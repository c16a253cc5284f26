package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** Job configuration — the analogue of a constructed `LSHFunction` bundle
  * (/root/reference/src/LSHBase.jl:24): immutable, seed-derived, broadcastable.
  * k = bands·rowsPerBand hash lanes; a pair with Jaccard s becomes a candidate
  * with probability 1 − (1 − s^r)^b (banding OR/AND amplification over the
  * reference's single-hash contract Pr[h(A)=h(B)] = J(A,B),
  * /root/reference/src/hashes/minhash.jl:142, LSHBase.jl:130-160).
  */
final case class DedupConfig(
    shingleWords: Int = 3,
    /** > 0 switches shingling to character n-grams of this length (the
      * reference's MinHash input is ANY symbol set, minhash.jl:146-170;
      * north star names "character/word shingles"). 0 = word mode. */
    charShingles: Int = 0,
    numHashes: Int = 126,
    bands: Int = 42,
    threshold: Double = 0.5,
    seed: Long = 42L,
    /** Buckets larger than this are excluded from all-pairs generation and
      * disclosed in metrics — the hot-bucket cap (boilerplate pages at web
      * scale). Members of over-cap buckets still get SALTED pairing (window
      * pairing over signature-sorted order) when saltWindow > 0. */
    maxBucket: Int = 2000,
    /** Hot-bucket salting: each member of an over-cap bucket is paired with
      * its saltWindow neighbors in (sig-lane-0, id) order. Near-duplicates
      * share lane 0 with probability ≈ their Jaccard, so true duplicates sort
      * adjacent and stay connected (cluster recall) at O(n·W) instead of
      * O(n²) pairs. 0 disables. */
    saltWindow: Int = 8) {
  require(numHashes % bands == 0, "numHashes must be divisible by bands")
  def rowsPerBand: Int = numHashes / bands

  /** Probability a pair at similarity s survives banding (recall at s). */
  def candidateProbability(s: Double): Double =
    1.0 - math.pow(1.0 - math.pow(s, rowsPerBand.toDouble), bands.toDouble)
}

/** The near-duplicate detection pipeline, stage by stage, each a pure
  * DataFrame → DataFrame function so stages can be checkpointed/resumed
  * independently (see [[Checkpoints]]).
  *
  * Input contract: a DataFrame with (id: LONG unique, text: STRING).
  * Scale design (100 TB / 10^12 docs):
  *  - signatures are computed per-row in one narrow pass (no k-fold explode);
  *  - the shuffles are: the census groupBy and the census-gated bucket
  *    self-join (by band key), the pair dropDuplicates (by id_a, reused by
  *    the verify join on id_a), the verify joins (by doc id), the salted
  *    cells' windows (only when over-cap buckets exist), and the CC
  *    iterations; the stores' verify prunes the docs by an id probe
  *    (broadcast up to [[BroadcastKeyLimit]] pairs) instead of shuffling
  *    the wide text/shingle payloads ([[prunedVerify]]);
  *  - candidate pairs come from a codegen'd bucket self-join gated by a
  *    census (no executor ever materializes a bucket member list; over-cap
  *    buckets are capped + disclosed, their members salted via window
  *    pairing);
  *  - everything is deterministic under any partitioning (seeded stateless
  *    hashing, min/sort-based kernels) so reruns and different cluster sizes
  *    give identical output.
  */
object Dedup {

  /** The text → shingle-hash-set projection as a codegen Column (the last
    * per-row UDF on the corpus-wide path until round 5 — VERDICT r4). */
  def shingleHashes(cfg: DedupConfig)(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    if (cfg.charShingles > 0)
      call_function("graft_char_shingle_hashes", text, lit(cfg.charShingles), lit(cfg.seed))
    else call_function("graft_shingle_hashes", text, lit(cfg.shingleWords), lit(cfg.seed))

  /** The shingle-hash-set → MinHash signature projection as a codegen
    * Column — the one definition every signature stage uses. */
  def minhashSig(cfg: DedupConfig)(shingles: Column): Column =
    call_function("graft_minhash_sig", shingles, lit(cfg.numHashes), lit(cfg.seed))

  /** Stage SHINGLE+SIGNATURE: id, shingles (sorted distinct hashes), sig.
    * Both projections run as native codegen Expressions (no UDF boxing);
    * within one whole-stage-codegen Project the shingle array is computed
    * once and shared by the sig column (subexpression elimination). */
  def signatures(docs: DataFrame, cfg: DedupConfig): DataFrame = {
    graft.functions.GraftExpressions.register(docs.sparkSession)
    docs
      .select(col("id"), shingleHashes(cfg)(col("text")).as("shingles"))
      .withColumn("sig", minhashSig(cfg)(col("shingles")))
  }

  /** Stage BAND: one row per (doc, band), keyed by the band's combined hash
    * alone. The band INDEX is already folded into the hash seed
    * (graft_band_hashes derives a distinct seed per band), so carrying a
    * separate band_idx column through the bucket shuffle is redundant weight —
    * at 10^12 docs × b bands that column alone is tens of TB of shuffle.
    * A cross-band 64-bit collision merely creates one extra candidate pair,
    * which exact verification then adjudicates. */
  def bands(signatures: DataFrame, cfg: DedupConfig): DataFrame = {
    graft.functions.GraftExpressions.register(signatures.sparkSession)
    signatures
      .select(col("id"),
        explode(call_function("graft_band_hashes",
          col("sig"), lit(cfg.bands), lit(cfg.rowsPerBand), lit(cfg.seed)))
          .as("band_hash"))
  }

  /** Bucket census: size of every band_hash bucket — used both to prune hot
    * buckets before any collect and for skew metrics. */
  def bucketCensus(bands: DataFrame): DataFrame =
    bands.groupBy("band_hash").agg(count(lit(1)).as("bucket_size"))

  /** A census over nothing earlier: the touched-census form
    * (band_hash, prev_size, bucket_size) with every `prev_size` 0. */
  private[pipeline] def withoutPrior(census: DataFrame): DataFrame =
    census.select(col("band_hash"), lit(0L).as("prev_size"), col("bucket_size"))

  /** Over-cap buckets before and after a snapshot (`prevHot`, `hot`), the
    * largest bucket, and the in-cap non-singleton buckets (`gate`). */
  private[pipeline] final case class CensusStats(prevHot: Long, hot: Long, maxBucket: Long, gate: Long)

  /** The census-stats aggregate over a touched census (band_hash,
    * prev_size, bucket_size): ONE job, and the one over-cap test of the
    * in-memory and store paths. count/coalesce, not bare sum/max: over an
    * EMPTY census (an empty corpus is supported input) the aggregates would
    * be NULL and getLong would NPE mid-run (round-6 review). A census that
    * is the cache's first action scans in full, so the cache holds every
    * partition for the joins that read it next. */
  private[pipeline] def censusStats(touched: DataFrame, cfg: DedupConfig): CensusStats = {
    val r = touched.agg(
      count(when(col("prev_size") > cfg.maxBucket, 1)),
      count(when(col("bucket_size") > cfg.maxBucket, 1)),
      coalesce(max(col("bucket_size")), lit(0L)),
      count(when(col("bucket_size").between(2, cfg.maxBucket), 1))).first()
    CensusStats(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  /** No rows, with `df`'s schema: a local relation, so the optimizer drops
    * a join or union side over it and a plan over an empty earlier
    * snapshot is the plan over none. */
  private[pipeline] def none(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(java.util.Collections.emptyList[Row](), df.schema)

  /** Stage CANDIDATES: within-bucket pairs via a bucket-key SELF-JOIN,
    * deduped across bands (OR-amplification = any shared band ⇒ candidate).
    *
    * The self-join form keeps the whole stage in codegen'd hash/sort-merge
    * operators: a collect_list formulation routes through
    * ObjectHashAggregate, whose 128-key sort-based fallback spills every
    * bucket to disk (measured 2-3× slower here, and an executor-memory risk
    * for hot buckets at web scale). Buckets above cfg.maxBucket are excluded
    * (skew cap, disclosed via [[bucketCensus]]) and handled separately by
    * [[rawSaltedHotPairs]]; the shuffled `bands` exchange is reused by
    * Catalyst for both join sides.
    *
    * The one candidate step of the in-memory pipeline and the stores
    * ([[DedupStages]]). `bands`/`signatures` are the new rows and `census`
    * their (touched) census; an earlier snapshot's band rows and signatures
    * extend them, and are empty relations ([[none]]) when there is none.
    * Returns only the pairs this snapshot ADDS: every in-cap pair holds a
    * new id (new ids are disjoint from stored ones, [[DocIds.assign]]), so
    * none was an earlier candidate; a salted pair can re-pair two earlier
    * docs, so the salted pairs are anti-joined to `earlierPairs`, which is
    * read only then. `hot` says the census holds an over-cap bucket (the
    * caller knows it from the census stats or the census stage's
    * manifest); with salting on, the RAW in-cap and salted pairs are
    * unioned before ONE [[dedupPairs]] — the dedup-then-union-then-dedup
    * shape exchanged and re-aggregated the biggest intermediate (the in-cap
    * pair relation) twice. With no hot bucket the salted sub-plan is not
    * built at all: it would be all-empty relations, pure plan weight.
    *
    * `gateKeys` is the in-cap gate's key count when the caller has counted
    * it: an empty gate builds no in-cap join, so no earlier band row is
    * read, and a small one is broadcast ([[rawCandidatesFromCensus]]). A
    * snapshot that adds no pair returns no rows — an increment with no
    * near-duplicate reads nothing of the prior store's pairs or bands. */
  private[pipeline] def candidatePairs(
      bands: DataFrame,
      census: DataFrame,
      signatures: DataFrame,
      cfg: DedupConfig,
      hot: Boolean,
      earlierBands: => DataFrame,
      earlierSignatures: => DataFrame,
      earlierPairs: => DataFrame,
      gateKeys: Option[Long]): DataFrame = {
    val inCap =
      if (gateKeys.contains(0L)) None
      else Some(rawCandidatesFromCensus(bands, census, cfg, earlierBands,
        bounded = gateKeys.exists(_ <= BroadcastKeyLimit)))
    // the salted window pairing is not decomposable per snapshot: a hot
    // bucket's FULL membership is read, from the narrow checkpoints
    val salted =
      if (cfg.saltWindow > 0 && hot)
        Some(rawSaltedHotPairs(earlierBands.unionByName(bands), census,
          earlierSignatures.unionByName(signatures), cfg)
          .join(earlierPairs.hint("shuffle_hash"), Seq("id_a", "id_b"), "left_anti"))
      else None
    (inCap ++ salted).reduceOption(_ union _).map(dedupPairs)
      .getOrElse(none(bands.select(col("id").as("id_a"), col("id").as("id_b"))))
  }

  /** Pair dedup partitioned by id_a ONLY: hashpartitioning(id_a) clusters
    * every (id_a, *) group, so the dropDuplicates aggregate is legal on it —
    * and the verify stage's first join (on id_a) then REUSES the exchange
    * instead of re-shuffling the whole pair relation (the r4 plan exchanged
    * pairs on (id_a,id_b) for the dedup and again on id_a for the join —
    * one full exchange of the biggest intermediate, gone; VERDICT r4 #1). */
  private[pipeline] def dedupPairs(pairs: DataFrame): DataFrame =
    pairs.repartition(col("id_a")).dropDuplicates("id_a", "id_b")

  /** Un-deduped within-bucket pairs — the raw form exists so the salted hot
    * path can union its additions BEFORE the single pair-relation dedup
    * ([[candidatePairs]]).
    *
    * ONE bucket self-join over the gated rows: the earlier rows (ids
    * disjoint from the new ones), flagged, and the new rows pass the gate
    * probe once, as one relation; its new rows are the join's right side
    * (the optimizer pushes that side's filter below the probe, so the plan
    * probes the new rows once more for it, unless they are the only rows).
    * A new row pairs with the later new rows of its bucket (`id_a < id_b`),
    * an earlier row with every new row. A bucket with no new member adds no
    * pair. With no earlier rows the union side and the `earlier` flag fold
    * away, and the plan is the plain self-join.
    *
    * The census gate is a SHUFFLE probe unless `bounded` (the caller
    * counted the gate non-empty and its key set small: see [[probeSide]]).
    * Over a whole corpus the key set is unbounded (one row per
    * non-singleton bucket — at 200k docs already ~2M keys, at 10^12 docs
    * billions), and after the band_hash column narrowed to one bigint AQE's
    * runtime size estimate started flipping this join to broadcast,
    * building a multi-hundred-MB HashedRelation on every thread (measured:
    * OOM at 200k docs × 32 threads × 8g). The hot-key side of the salted
    * path stays an explicit broadcast — THAT key set (over-cap buckets) is
    * genuinely tiny. */
  private[pipeline] def rawCandidatesFromCensus(
      bands: DataFrame,
      census: DataFrame,
      cfg: DedupConfig,
      earlierBands: DataFrame,
      bounded: Boolean): DataFrame = {
    val gate = probeSide(
      census.where(col("bucket_size").between(2, cfg.maxBucket)).select("band_hash"), bounded)
    val earlier = col("earlier")
    val gated = earlierBands.select(col("band_hash"), col("id"), lit(true).as("earlier"))
      .unionByName(bands.select(col("band_hash"), col("id"), lit(false).as("earlier")))
      .join(gate, "band_hash")
    gated.select(col("band_hash"), col("id").as("id_a"), earlier)
      .join(gated.where(!earlier).select(col("band_hash"), col("id").as("id_b")), "band_hash")
      .where(earlier || col("id_a") < col("id_b"))
      .select(
        when(earlier, least(col("id_a"), col("id_b"))).otherwise(col("id_a")).as("id_a"),
        when(earlier, greatest(col("id_a"), col("id_b"))).otherwise(col("id_b")).as("id_b"))
  }

  /** Hot-bucket members split into bounded SALT CELLS (explicit skew
    * handling, north rule). Members of buckets larger than cfg.maxBucket are
    * scattered into ceil(n/maxBucket) cells by a salted hash of the doc id,
    * so NO single task ever receives a whole hot bucket — the round-1 design
    * windowed over the entire bucket, which put a 10⁸-member boilerplate
    * bucket on one executor. Returns (band_hash, cell, id, sort_key) with
    * sort_key = signature lane 0 (near-duplicates share lane 0 with
    * probability ≈ J, so dup-group members sort adjacent within a cell). */
  def saltedCells(
      bands: DataFrame,
      census: DataFrame,
      signatures: DataFrame,
      cfg: DedupConfig): DataFrame = {
    val hotKeys = census
      .where(col("bucket_size") > cfg.maxBucket)
      .select(col("band_hash"),
        ceil(col("bucket_size").cast("double") / cfg.maxBucket).cast("int").as("n_cells"))
    // BOTH joins are forced to shuffle strategies. (a) The sort-key side is
    // CORPUS-sized: its narrow (id, lane0) projection makes the planner's
    // estimate tiny (16 B/row of cache column stats), so Catalyst broadcast
    // it — unbounded at 10^12 docs. (b) Even the genuinely tiny hot-key
    // broadcast is ruinous in THIS runtime: Spark's SizeEstimator walks the
    // TaskMemoryManager reachable from a long-keyed HashedRelation and
    // accounts ~513 MiB of storage for a near-empty map, evicting the CC
    // localCheckpoint blocks (whose truncated lineage cannot recompute) —
    // measured OOM at 200k docs × 32 threads × 8g. The bands relation is
    // already hash-partitioned by band_hash, so the hot-key shuffle join
    // reuses that exchange.
    bands
      .join(hotKeys.hint("shuffle_hash"), "band_hash")
      .join(
        signatures.select(col("id"), element_at(col("sig"), 1).as("sort_key"))
          .hint("shuffle_hash"),
        "id")
      .select(col("band_hash"),
        pmod(xxhash64(col("id"), col("band_hash")), col("n_cells")).as("cell"),
        col("id"), col("sort_key"))
  }

  /** SALTED pairing for hot buckets: O(n·W) pairs for an n-member bucket,
    * with every window task bounded by the cell size (~maxBucket).
    *
    *  1. INTRA-CELL chains: within each (band_hash, cell), members are
    *     ordered by (sort_key, id) and paired with their next saltWindow
    *     neighbors — true dup groups sort adjacent (shared lane 0) and stay
    *     connected inside the cell.
    *  2. CROSS-CELL STITCHING: a dup group scattered across cells would
    *     otherwise fragment, so for every (band_hash, cell, sort_key) run we
    *     elect the min-id representative and chain the representatives of the
    *     SAME sort_key across cells. That partition holds at most n_cells
    *     (= n/maxBucket) rows — bounded — and links every fragment of an
    *     equal-lane-0 group. Groups whose members differ in lane 0 still
    *     connect through intra-cell adjacency, as in the unsalted design.
    *
    * Every emitted pair still passes exact verification, so salting can only
    * lose recall (disclosed via the census metrics), never precision.
    *
    * The pairs are NOT deduped: every caller unions them with other raw
    * pair sources and runs ONE dedupPairs over the union (see
    * [[rawCandidatesFromCensus]] for why the raw form exists). */
  private[pipeline] def rawSaltedHotPairs(
      bands: DataFrame,
      census: DataFrame,
      signatures: DataFrame,
      cfg: DedupConfig): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = saltedCells(bands, census, signatures, cfg)
    val w = Window.partitionBy("band_hash", "cell").orderBy("sort_key", "id")
    val ranked = cells.withColumn("rn", row_number().over(w))
    val left = ranked
      .select(col("band_hash"), col("cell"), col("id").as("l_id"), col("rn"),
        explode(sequence(lit(1), lit(cfg.saltWindow))).as("off"))
      .select(col("band_hash"), col("cell"), col("l_id"), (col("rn") + col("off")).as("rn"))
    val intra = left
      .join(ranked.select(col("band_hash"), col("cell"), col("id").as("r_id"), col("rn")),
        Seq("band_hash", "cell", "rn"))
      .select(col("l_id"), col("r_id"))

    val reps = cells.groupBy("band_hash", "cell", "sort_key").agg(min("id").as("id"))
    val wr = Window.partitionBy("band_hash", "sort_key").orderBy("id")
    val repRanked = reps.withColumn("rn", row_number().over(wr))
    val stitch = repRanked
      .select(col("band_hash"), col("sort_key"), col("id").as("l_id"), (col("rn") + 1).as("rn"))
      .join(repRanked.select(col("band_hash"), col("sort_key"), col("id").as("r_id"), col("rn")),
        Seq("band_hash", "sort_key", "rn"))
      .select(col("l_id"), col("r_id"))

    intra.union(stitch)
      .select(
        least(col("l_id"), col("r_id")).as("id_a"),
        greatest(col("l_id"), col("r_id")).as("id_b"))
      .where(col("id_a") < col("id_b"))
  }

  /** Stage VERIFY: exact Jaccard (the reference's ground-truth kernel,
    * similarities.jl:230-238) on the candidate pairs, thresholded. Joins back
    * to the shingle sets by doc id (sort-merge at scale; the shingles relation
    * is reused from the signature stage, so cache/checkpoint it upstream). */
  def verify(candidates: DataFrame, shingles: DataFrame, cfg: DedupConfig): DataFrame = {
    graft.functions.GraftExpressions.register(candidates.sparkSession)
    // CORPUS-sized sides with heavy array payloads, but their narrow cached
    // projection makes the planner's estimate tiny → it broadcast them
    // (seen in PLANS.md r3: BroadcastExchange of (id, shingles) — unbounded
    // at 10^12 docs). hint("merge") = sort-merge: scale-safe AND eligible
    // for AQE skew splitting, unlike shuffle_hash.
    val sa = shingles.select(col("id").as("id_a"), col("shingles").as("sh_a")).hint("merge")
    val sb = shingles.select(col("id").as("id_b"), col("shingles").as("sh_b")).hint("merge")
    candidates
      .join(sa, "id_a")
      .join(sb, "id_b")
      .select(
        col("id_a"),
        col("id_b"),
        call_function("graft_jaccard_sorted", col("sh_a"), col("sh_b")).as("jaccard"))
      .where(col("jaccard") >= cfg.threshold)
  }

  /** The probe-side cutover of every small-keyed join on the store paths:
    * a key set of at most this many rows (bounded from a count the caller
    * already holds) is broadcast; anything larger, or an empty set, is
    * shuffle-probed. 2M keys is ~16 MB of longs. */
  private[pipeline] val BroadcastKeyLimit = 2000000L

  /** A provably small key set broadcasts, anything else shuffle-probes
    * (NEVER an implicit broadcast of an unbounded side). */
  private[pipeline] def probeSide(keys: DataFrame, provablySmall: Boolean): DataFrame =
    if (provablySmall) broadcast(keys) else keys.hint("shuffle_hash")

  /** Stage VERIFY as the stores run it ([[DedupStages]]: the candidate
    * pairs a build or an increment added):
    * exact Jaccard, then the LCS pass for long exact overlaps (north rule),
    * over docs PRUNED to the ids that appear in `pairs`.
    *
    * A shuffle-side prune still SHUFFLES the whole corpus-sized docs
    * relation (Spark probes the build side during the big side's shuffle
    * read) — on a host with 3.2 ms shuffle syscalls that shuffle IS the
    * cost (measured on the incremental probe). The pair set is counted by
    * the caller (`nPairs`), so a small id set broadcasts EXPLICITLY and the
    * docs are probed at scan time with no shuffle of the wide text
    * payloads. The shuffle_hash fallback covers
    * the unbounded worst case (a pair set that covers half the corpus);
    * nPairs > 0 also guards the phantom-broadcast trap: an explicit
    * broadcast of an EMPTY long-keyed relation costs ~513 MiB of storage
    * accounting in this runtime. `idLimit` exists so specs can force the
    * fallback.
    *
    * The pruned docs are CACHED — O(pairs) rows, referenced three times
    * (shingle re-derivation + both LCS text joins) — and returned so the
    * caller unpersists them after its stage write. Shingles for these docs
    * are RE-DERIVED from their text instead of re-read from a shingle
    * checkpoint: shingling is a pure function of text, the LCS pass scans
    * these texts anyway, and the checkpoint read was an O(corpus)
    * scan+decode of the widest relation in the store for an O(pairs) pair
    * set (measured ~8 s of the text-heavy probe's verify stage).
    *
    * @param pairs (id_a, id_b) candidate pairs, counted
    * @param docs  (id, text, …) the docs every pair id resolves in
    * @return (verified pairs (id_a, id_b, jaccard, lcs_len), pruned docs)
    */
  private[pipeline] def prunedVerify(
      pairs: DataFrame,
      nPairs: Long,
      docs: DataFrame,
      cfg: DedupConfig,
      idLimit: Long = BroadcastKeyLimit): (DataFrame, DataFrame) = {
    val ids = pairs.select(col("id_a").as("id"))
      .union(pairs.select(col("id_b").as("id")))
      .distinct()
    val prunedDocs = docs.join(probeSide(ids, nPairs > 0 && nPairs <= idLimit), "id").cache()
    val prunedShingles = prunedDocs.select(col("id"), shingleHashes(cfg)(col("text")).as("shingles"))
    (withLcsColumn(verify(pairs, prunedShingles, cfg), prunedDocs), prunedDocs)
  }

  /** Internal pipeline assembly, end-to-end: docs(id, text) → verified
    * near-dup pairs, plus EVERY DataFrame it pinned: the signatures (reused
    * by banding AND the verify join) and the bucket census (materialized
    * once by the hot-bucket probe and reused by the candidate join and,
    * when needed, the salted path). Callers that fully materialize the
    * result must unpersist all of them — returning only the head silently
    * leaked the cached census (ADVICE r2); [[clusters]] does. */
  def nearDupPairsWithHandle(docs: DataFrame, cfg: DedupConfig): (DataFrame, Seq[DataFrame]) = {
    val sigs = signatures(docs, cfg).cache()
    val bandsDf = bands(sigs, cfg)
    val census = bucketCensus(bandsDf).cache()
    // The salted sub-plan is built ONLY when hot buckets exist (the census
    // stats job, which materializes the census for reuse downstream). With
    // no hot buckets the salted branch is all-empty relations — pure plan
    // weight, and AQE's broadcast conversion of empty hashed relations
    // carries a pathological ~0.5 GiB accounting in this runtime that
    // evicts checkpoint blocks. The stores gate the same way on the same
    // stats.
    val hasHot = cfg.saltWindow > 0 && censusStats(withoutPrior(census), cfg).hot > 0
    val pairs = candidatePairs(bandsDf, census, sigs, cfg, hasHot, none(bandsDf), none(sigs),
      none(bandsDf.select(col("id").as("id_a"), col("id").as("id_b"))), gateKeys = None)
    (verify(pairs, sigs.select("id", "shingles"), cfg), Seq(sigs, census))
  }

  /** Convenience form that leaves the signature cache pinned for the session
    * (the plan is lazy, so it cannot be released before the caller's action).
    * Callers that fully materialize the result and need the memory back must
    * use [[nearDupPairsWithHandle]] and unpersist the handle — as
    * [[clusters]] does — or call `spark.catalog.clearCache()` afterwards
    * (what Bench/Verify do between queries). */
  def nearDupPairs(docs: DataFrame, cfg: DedupConfig): DataFrame =
    nearDupPairsWithHandle(docs, cfg)._1

  /** End-to-end: docs(id, text) → (id, cluster_id) for every doc, cluster_id =
    * min doc id of the duplicate component (singletons map to themselves). */
  def clusters(docs: DataFrame, cfg: DedupConfig): DataFrame = {
    val (verified, caches) = nearDupPairsWithHandle(docs, cfg)
    val out = ConnectedComponents.run(docs.select("id"), verified.select("id_a", "id_b"))
    caches.foreach(_.unpersist(blocking = false)) // CC materialized the edges
    out
  }

  private[pipeline] def withLcsColumn(verified: DataFrame, docs: DataFrame): DataFrame = {
    graft.functions.GraftExpressions.register(verified.sparkSession)
    val texts = docs.select(col("id"), col("text"))
    verified
      .join(texts.select(col("id").as("id_a"), col("text").as("text_a")), "id_a")
      .join(texts.select(col("id").as("id_b"), col("text").as("text_b")), "id_b")
      .select(col("id_a"), col("id_b"), col("jaccard"),
        call_function("graft_lcs_len", col("text_a"), col("text_b")).as("lcs_len"))
  }
}
