package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.{CrossEngine, GraftFunctions}
import graft.pipeline.{Dedup, DedupConfig, SignAlshRetrieval, SimHashDedup}

/** Driver contract — see /root/repo/SURVEY.md §7 + FIXTURES.md.
  *
  * Every query is a Spark-first DataFrame program over the driver-generated
  * parquet tables; `oracleSql` holds the ANSI-SQL equivalent run by DuckDB.
  * Determinism rules for oracle parity (floats hash-compared bitwise):
  *  - integer/count arithmetic everywhere possible (exact under any
  *    partitioning / execution order);
  *  - ratios only as a single division of exact integers;
  *  - money sums rounded to 2dp (noise ~1e-9 can't cross a rounding boundary
  *    whose true value is a multiple of .01);
  *  - embedding cosine on 1e3-quantized int64 vectors (exact dot products,
  *    one sqrt/div at the end);
  *  - LSH structure (hash lanes, hyperplanes, p-stable coefficients) derived
  *    from md5 — the one string hash Spark, the JVM, and DuckDB share — so
  *    the ENTIRE query incl. banding/bucketing/census caps is reproducible
  *    in SQL (see [[graft.functions.CrossEngine]]); the faster splitmix
  *    production kernels are gated end-to-end by q_minhash_lsh_pairs /
  *    q_dedup_clusters whose OUTPUT (exact Jaccard pairs/clusters) is
  *    kernel-independent;
  *  - explicit ORDER BY + explicit casts so schemas match (Spark size() is
  *    INT, DuckDB len() is BIGINT — always cast to long).
  */
object SparkEntry {

  /** Default LSH config: k=126 lanes, b=42 bands × r=3 rows. At the verify
    * threshold J=0.5 a true pair is missed with prob (1−0.5³)^42 ≈ 3.6e-3;
    * the planted near-dup pairs in this corpus sit at J ≥ 0.85 where the miss
    * probability is (1−0.614)^42 ≈ 4.8e-18 — recall is 1 up to hash noise. */
  val lshConfig: DedupConfig = DedupConfig(
    shingleWords = 3, numHashes = 126, bands = 42, threshold = 0.5, seed = 42L)

  /** Cross-engine random structure (md5-derived, mirrored in oracleSql).
    * Bucket widths are NOT constants: the ANN and MIPS queries derive them
    * from the corpus row count through [[Planes.bitsForCorpus]] (and the
    * oracle SQL recomputes the same integer rule from the same table), so
    * the queries stay green at any sf AND keep the log-n scaling contract. */
  private[graft] object Planes {
    import CrossEngine._
    val Dim = 64
    // ANN: 8 tables × bitsForCorpus(n, 32) Rademacher hyperplanes each
    // (table t = global planes [t·b, (t+1)·b)). Census cap 200 mirrors the
    // minhash path's hot-bucket gate and is replicated in the oracle.
    val AnnTables = 8; val AnnCap = 200L; val AnnTargetBucket = 32L
    // LpHash (p=2): 4 lanes of integer-Gaussian (Irwin–Hall) coefficients
    val LpLanes = 4; val LpW = 2000000L
    lazy val lpCoeff: Array[Array[Long]] =
      Array.tabulate(LpLanes)(j => Array.tabulate(Dim)(i => gaussInt("lp", j, i)))
    lazy val lpShift: Array[Long] =
      Array.tabulate(LpLanes)(j => md5long(s"lpshift:$j") % LpW)

    /** Bits per hash table for a corpus of n vectors: smallest b with
      * 2^b · targetBucket ≥ n (floor 4), keeping expected bucket size near
      * targetBucket so candidate volume stays ~n·tables·bucket instead of
      * n²/2^bits. At 10^9 vectors and target 1024: 20 bits. EXACT integer
      * arithmetic (no float log) — the DuckDB oracle recomputes it as
      * `min b: (1::BIGINT << b) * target >= count(*)`, and a ½-ulp log2
      * disagreement at a power-of-two boundary would silently fork the two
      * engines' plans. */
    def bitsForCorpus(n: Long, targetBucket: Long = 1024L): Int =
      // ((n−1) >> b) < target ⇔ target·2^b ≥ n, but OVERFLOW-FREE: the
      // shifted-left form wraps negative (then to 0) for target·2^b ≥ 2^63,
      // silently returning the 57 fallback instead of the true smallest b
      // (round-6 review; beyond today's corpora, but a boundary fork is
      // exactly what this integer rule exists to prevent). Identical values
      // for every non-overflowing input, so the oracle SQL is unchanged.
      math.max(4, (0 to 57).find(b => ((n - 1) >> b) < targetBucket).getOrElse(57))
  }

  /** Function-word lexicons for the scored language-ID heuristic (top
    * frequency lists — public linguistic commons; mirrored in the oracle). */
  private[graft] object LangLex {
    val en = Seq("the", "of", "and", "to", "in", "is", "that", "it", "was", "for")
    val de = Seq("der", "die", "das", "und", "ist", "von", "zu", "den", "nicht", "mit")
    val fr = Seq("le", "la", "les", "des", "et", "est", "une", "dans", "que", "pour")
    val es = Seq("el", "los", "las", "y", "es", "una", "por", "con", "para", "como")
    /** q_quality's stop-word list — ONE definition interpolated into both
      * the Spark query and the oracle SQL (an edit to a hand-duplicated
      * copy would silently fork the two engines; round-5 review). */
    val stop = Seq("the", "a", "an", "of", "to", "and", "in", "on", "is", "it")
  }

  /** BPE-ish pre-tokenizer pattern — portable between Java regex and RE2.
    * Whitespace is an EXPLICIT class, not \s: Java's \s includes \x0B
    * (vertical tab) while RE2's does not, so \s would fork the two engines'
    * tokenizations on that one character. */
  private[graft] val BpePattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\f\\r]"

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** The synthetic media fixture shared by q_media_headers and
    * q_wav_frames — ONE definition of the (id → kind, payload) rule: a
    * drift between the two queries' input corpora (and their oracles'
    * integer specs) must be impossible (round-6 review: the block was
    * copy-pasted into both). */
  private def syntheticMedia(
      s: SparkSession, dir: String): org.apache.spark.sql.Dataset[graft.multimodal.Multimodal.MediaRow] = {
    import s.implicits._
    docs(s, dir).select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, t) =>
        graft.multimodal.Multimodal.MediaRow(
          id,
          if (id % 2 == 0) "image" else "audio",
          graft.multimodal.Multimodal.SyntheticMedia.bytes(id, t))
      }
  }
  private def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** documents with the pipeline's (id, text) contract. (NOT repartitioned:
    * at sf0.1 the repartition exchange + 32-task churn measured SLOWER than
    * the single-task signature fill it parallelizes — BENCH/BASELINE.md's "~3 s of
    * compute per exchange" threshold; multi-file production inputs
    * parallelize at the scan.) */
  private def docsAsCorpus(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id").as("id"), col("text"))

  /** Exact all-pairs Jaccard via a distributed shingle equi-join (no
    * driver-side loops; |A∩B| is a groupBy on the pair key, |A| sizes
    * broadcast back in). Shingle representation is pluggable (word n-grams /
    * char n-grams as 64-bit hash sets — set Jaccard is representation-
    * independent up to 2⁻⁶⁴ collisions, which is how the DuckDB string-set
    * oracle can gate the hashed form bitwise).
    *
    * dfCap (document-frequency cap): shingles occurring in more than dfCap
    * docs are dropped from BOTH the sizes and the intersections — i.e. the
    * Jaccard is over the df-capped shingle sets, a semantics the oracle
    * replicates exactly. Without it one boilerplate shingle of df d is an
    * O(d²) join bucket (at sf0.1 the uncapped char-5-gram form ran 266 s;
    * capped: ~2 s); true near-dup shingles have tiny df, so near-dup
    * Jaccard is essentially unchanged. */
  /** Shared df-capped pair-count topology over a (doc_id, s) item relation
    * — ONE copy of the tuned scale posture for every set-overlap pair
    * family (word/char shingles, winnow fingerprints): the df gate join is
    * forced shuffle_hash (unbounded key set — no broadcast flips), the item
    * self-join is sort-merge (df-skewed key; AQE can skew-split it, a
    * broadcast of it is unbounded), and per-doc sizes re-join by
    * shuffle_hash (one row per CORPUS doc — unbounded at 10^12 docs).
    * The item projection (per-row hashing CPU) feeds up to 4 plan branches
    * (df census + both self-join sides + the size aggregate), so it is
    * CACHED here once — the SimHash chunk-relation lesson (r3) — and
    * returned as the pinned handle so `*WithHandle` production entries can
    * release it (the query-map forms rely on Bench/Verify's clearCache
    * between queries).
    * Returns (pair counts c per (doc_a, doc_b), per-doc sizes n, pinned). */
  private def pairCounts(items: DataFrame, dfCap: Option[Long]): (DataFrame, DataFrame, DataFrame) = {
    val cached = items.cache()
    // The per-doc sizes |A| count every in-cap item, but pair INTERSECTIONS
    // can only come from items shared by ≥ 2 docs — a df=1 item's only
    // self-join row is (a, a), killed by doc_a < doc_b. So in the CAPPED
    // case (census already exists) the self-join sides pre-filter to
    // df ∈ [2, cap]: a pure no-op on the result that removes the
    // single-occurrence bulk (winnow fingerprints are mostly unique —
    // measured −19% warm on q_winnow_pairs) from both sort-merge inputs
    // (guide §2.3, sort fewer bytes). The two census branches (≤ cap for
    // sizes, [2, cap] for pairs) differ only in the filter above the final
    // aggregate, so ReuseExchange still shares the one census shuffle.
    // The UNCAPPED twin deliberately stays census-free: adding a df≥2
    // census to q_ngram_jaccard_pairs measured flat-to-slightly-worse at
    // sf0.1 (the extra aggregation pass ≈ the sort shrink; r7 A/B in
    // OPTIMIZATION_r07.md).
    val (szItems, multi) = dfCap match {
      case Some(cap) =>
        val census = cached.groupBy("s").agg(count(lit(1)).as("df"))
        (cached.join(census.where(col("df") <= cap).select("s").hint("shuffle_hash"), "s"),
          cached.join(census.where(col("df").between(2L, cap)).select("s").hint("shuffle_hash"), "s"))
      case None => (cached, cached)
    }
    val sz = szItems.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = multi.select(col("doc_id").as("doc_a"), col("s"))
      .join(multi.select(col("doc_id").as("doc_b"), col("s")).hint("merge"), Seq("s"))
      .where(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("c"))
    (inter, sz, cached)
  }

  private def joinSizes(inter: DataFrame, sz: DataFrame): DataFrame =
    inter
      .join(sz.select(col("doc_id").as("doc_a"), col("n").as("na")).hint("shuffle_hash"), Seq("doc_a"))
      .join(sz.select(col("doc_id").as("doc_b"), col("n").as("nb")).hint("shuffle_hash"), Seq("doc_b"))

  private def jaccardPairsBy(
      d: DataFrame, threshold: Double, shingles: Column => Column,
      dfCap: Option[Long] = None): (DataFrame, DataFrame) = {
    graft.functions.GraftExpressions.register(d.sparkSession)
    val (inter, sz, pinned) = pairCounts(
      d.select(col("doc_id"), explode(shingles(col("text"))).as("s")), dfCap)
    val out = joinSizes(inter, sz)
      .select(
        col("doc_a"), col("doc_b"),
        (col("c").cast("double") / (col("na") + col("nb") - col("c")).cast("double")).as("jaccard"))
      .where(col("jaccard") >= threshold)
      .orderBy("doc_a", "doc_b")
    (out, pinned)
  }

  /** Production word-n-gram Jaccard pairs: the scale-safe default carries the
    * df-cap guard ON (shingles in more than dfCap docs are dropped from both
    * sizes and intersections — one boilerplate shingle of df d is otherwise
    * an O(d²) join bucket; the char-gram form measured 266 s uncapped vs
    * 1.5 s capped at sf0.1). The UNCAPPED form stays available as the exact
    * oracle query (q_ngram_jaccard_pairs). */
  def ngramJaccardPairs(d: DataFrame, threshold: Double, dfCap: Long = 10000L): DataFrame =
    ngramJaccardPairsWithHandle(d, threshold, dfCap)._1

  /** [[ngramJaccardPairs]] plus the pinned shingle relation (the
    * [[graft.pipeline.Dedup.nearDupPairsWithHandle]] contract): callers
    * that fully materialize the result in a long-lived session unpersist
    * the handle; the convenience form relies on the session's next
    * clearCache (what Bench/Verify do between queries). */
  def ngramJaccardPairsWithHandle(
      d: DataFrame, threshold: Double, dfCap: Long = 10000L): (DataFrame, Seq[DataFrame]) = {
    val (out, pinned) = jaccardPairsBy(d, threshold,
      call_function("graft_shingle_hashes", _, lit(3), lit(lshConfig.seed)),
      dfCap = Some(dfCap))
    (out, Seq(pinned))
  }

  /** Shared-winnowing-fingerprint near-dup pairs over a pluggable
    * fingerprint column — the same [[pairCounts]] topology as the shingle
    * Jaccard family: fingerprints in more than dfCap docs are dropped from
    * sizes AND intersections (one boilerplate fingerprint of df d is an
    * O(d²) join bucket; the cap is part of the semantics, replicated in the
    * oracle). All-integer counts + one final division → bitwise-oracleable. */
  private def winnowPairsBy(
      d: DataFrame, fpCol: Column, dfCap: Long = 50L,
      minOverlap: Double = 0.2): (DataFrame, DataFrame) = {
    graft.functions.GraftExpressions.register(d.sparkSession)
    val (inter, sz, pinned) = pairCounts(
      d.select(col("doc_id"), explode(fpCol).as("s")), Some(dfCap))
    val out = joinSizes(
      inter.where(col("c") >= 2), // integer pre-filter before the size joins
      sz)
      .select(col("doc_a"), col("doc_b"), col("c").as("n_shared"),
        (col("c").cast("double") /
          (col("na") + col("nb") - col("c")).cast("double")).as("overlap"))
      // planted near-dups sit at overlap ≥ 0.5 in this corpus; incidental
      // 8-gram collisions at < 0.2 — exact-int division, bitwise-safe gate
      .where(col("overlap") >= minOverlap)
      .orderBy("doc_a", "doc_b")
    (out, pinned)
  }

  /** Production winnowing near-dup pairs: seeded Rabin–Karp ROLLING gram
    * hashes (O(1) per position — md5 digests the whole k-gram at every
    * position) with the same selection, df cap and overlap gate as the
    * oracle-gated q_winnow_pairs. Pins the fingerprint relation until the
    * session's next clearCache — long-lived sessions use
    * [[winnowPairsWithHandle]] and unpersist the handle. */
  def winnowPairs(
      d: DataFrame, k: Int = 8, w: Int = 16, seed: Long = 42L,
      dfCap: Long = 50L, minOverlap: Double = 0.2): DataFrame =
    winnowPairsWithHandle(d, k, w, seed, dfCap, minOverlap)._1

  /** [[winnowPairs]] plus the pinned fingerprint relation (the
    * [[graft.pipeline.Dedup.nearDupPairsWithHandle]] contract). */
  def winnowPairsWithHandle(
      d: DataFrame, k: Int = 8, w: Int = 16, seed: Long = 42L,
      dfCap: Long = 50L, minOverlap: Double = 0.2): (DataFrame, Seq[DataFrame]) = {
    val (out, pinned) = winnowPairsBy(d,
      call_function("graft_winnow", col("text"), lit(k), lit(w), lit(seed)),
      dfCap, minOverlap)
    (out, Seq(pinned))
  }

  /** Paragraph-level exact dedup (the CCNet/RefinedWeb sub-document op:
    * boilerplate paragraphs duplicated across otherwise-unique documents).
    * `paras` is any array<string> paragraph column — production corpora pass
    * their newline rule (e.g. `split(text, "\n\n+")`); the oracle-gated
    * query uses the deterministic 10-word-block rule because the driver's
    * documents carry no newline structure (graft_word_blocks).
    *
    * Scale shape = the q_exact_dedup posture at paragraph granularity:
    * census is a groupBy on the paragraph hash (map-side partial combine —
    * a boilerplate paragraph with 10⁷ copies contributes ONE partial row
    * per task, never a single-task hot key), and the mark join back is by
    * the same hash with the agg side hint-proofed shuffle_hash (one row per
    * DISTINCT paragraph — unbounded key set, no broadcast flips). Output is
    * the per-paragraph scrub list: keep the first occurrence of each
    * duplicated paragraph, drop the rest (is_dup marks ALL copies; n_copies
    * lets the caller pick any keep rule without re-running the census). */
  def paragraphDedup(d: DataFrame, paras: Column): DataFrame = {
    // null ELEMENTS in a caller-supplied paragraph array are EXCLUDED here,
    // explicitly: md5(NULL) is NULL and the census equi-join would silently
    // swallow them anyway (the q_exact_dedup md5(NULL) trap, VERDICT r4 #3)
    // — an explicit filter makes the contract visible instead of an
    // accident of join semantics. graft_word_blocks never emits nulls.
    val p = d.select(col("doc_id"), posexplode(paras).as(Seq("para_idx", "para")))
      .where(col("para").isNotNull)
      .select(col("doc_id"), col("para_idx").cast("long").as("para_idx"),
        md5(col("para")).as("h"))
    val c = p.groupBy("h").agg(count(lit(1)).as("n_copies")).hint("shuffle_hash")
    p.join(c, "h")
      .select(col("doc_id"), col("para_idx"), col("n_copies"),
        (col("n_copies") >= lit(2L)).as("is_dup"))
  }

  /** CCNet-style paragraph SCRUB — the acting half of [[paragraphDedup]]:
    * rebuild each document's text with every paragraph that duplicates an
    * earlier-seen one REMOVED (keep = the globally-first occurrence by
    * (doc_id, para_idx); within-doc repeats drop too). Returns
    * (doc_id, n_paras, n_removed, text_clean); docs whose paragraph array
    * is empty (null text under the block rule) emit no row — callers
    * left-join if they need them.
    *
    * Scale shape: the keep census is the [[paragraphDedup]] groupBy
    * (map-side partial, shuffle_hash mark join — AQE skew-splittable hot
    * hashes); reassembly is the one inherently per-doc gather: a groupBy
    * (doc_id) collect of (para_idx, para) rows — sort-based aggregation
    * beyond hash-agg limits, bounded per doc by document size, and the
    * same shuffle CCNet itself pays. The ordered join is
    * sort_array(collect_list(struct))·getField — native expressions, no
    * interpreted lambda in the corpus-wide path. */
  def scrubDupParagraphs(d: DataFrame, paras: Column, joinWith: String = " "): DataFrame = {
    // null array elements excluded explicitly (same contract + rationale as
    // [[paragraphDedup]]): they would otherwise vanish via the md5(NULL)
    // equi-join while still having burned a para_idx
    val p = d.select(col("doc_id"), posexplode(paras).as(Seq("para_idx", "para")))
      .where(col("para").isNotNull)
      .select(col("doc_id"), col("para_idx").cast("long").as("para_idx"),
        col("para"), md5(col("para")).as("h"))
    val keep = p.groupBy("h")
      .agg(min(struct(col("doc_id"), col("para_idx"))).as("f"))
      .select(col("h"), col("f.doc_id").as("kdoc"), col("f.para_idx").as("kidx"))
      .hint("shuffle_hash")
    p.join(keep, "h")
      .withColumn("keep", col("doc_id") === col("kdoc") && col("para_idx") === col("kidx"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_paras"),
        count(when(!col("keep"), 1)).as("n_removed"),
        // joinWith: the separator the paragraph rule consumed (word blocks
        // → " " reconstructs the token stream exactly; a newline rule
        // passes "\n")
        array_join(
          sort_array(collect_list(when(col("keep"),
            struct(col("para_idx"), col("para"))))).getField("para"),
          joinWith).as("text_clean"))
  }

  /** Production IVF cosine-ANN entry (the q_ivf_ann kernel over any
    * `(vec_id, embedding: Array[Float])` relation) — the coarse-quantizer
    * twin of the LSH-bucketed ANN path. Centroids are a deterministic
    * md5-ranked sample of `nCells` corpus vectors; every vector is assigned
    * to its max-cosine cell; rows matching `probeFilter` probe their
    * `nprobe` nearest cells with an exact quantized-cosine top-`k` rerank.
    *
    * Scale shape (plan-audited in docs/PLANS.md): the centroid sample is a
    * TakeOrdered (per-partition top-C + merge, no global sort); assignment
    * is a FUSED narrow map — graft_ivf_argmax over plan-time literal
    * centroids, no join and no exchange at all (above
    * IvfIndex.FusedCellLimit cells it falls back to the relational
    * crossJoin + map-side-partial `max(struct(score, -cid))` groupBy,
    * whose shuffle carries n skinny rows — never the n×C scored cross
    * product); candidates probe the assignment relation with a broadcast
    * of the ≤ probes·nprobe cell keys; the rerank broadcasts the counted
    * candidate set at the corpus scan (merge fallback above the limit)
    * with the probe vectors re-joined by broadcast after it. */
  def ivfTopK(
      emb: DataFrame, probeFilter: Column, nCells: Int,
      nprobe: Int = 2, k: Int = 10): DataFrame =
    ivfTopKWithHandle(emb, probeFilter, nCells, nprobe, k)._1

  /** [[ivfTopK]] plus the pinned quantized-corpus relation (the
    * [[graft.pipeline.Dedup.nearDupPairsWithHandle]] contract): callers
    * unpersist the handle when done; query-gate callers rely on the
    * harness's clearCache. */
  def ivfTopKWithHandle(
      emb: DataFrame, probeFilter: Column, nCells: Int,
      nprobe: Int = 2, k: Int = 10): (DataFrame, Seq[DataFrame]) = {
    // the kernel pieces live in pipeline/IvfIndex (shared with the
    // checkpointed store form, so the two paths cannot drift); this entry
    // is their in-memory composition over one pinned quantized relation
    val e = graft.pipeline.IvfIndex.quantized(emb)
      .cache() // 4 plan branches: centroid sample, assignment, probes, rerank
    val cent = graft.pipeline.IvfIndex.centroids(e, nCells)
    val cell = graft.pipeline.IvfIndex.assignment(e, cent, nCells)
    val (out, pinned) = graft.pipeline.IvfIndex.probeRerank(e, cent, cell, probeFilter, nprobe, k)
    (out, e +: pinned)
  }

  /** Flagship: LSH near-duplicate pairs on the smoke corpus; driver checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Dedup.nearDupPairs(docsAsCorpus(spark, "/root/testdata/sf0.001"), lshConfig)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ------------------------------------------------ dedup / text analytics
    "q_exact_dedup" -> ((s, dir) => {
      // groupBy + join back, NOT min().over(Window.partitionBy(md5(text))):
      // the window form shuffles ALL copies of a text onto one window
      // partition — at web scale a boilerplate page with 10⁷ copies is a
      // single-task hot key, and exact-dup groups are exactly where
      // duplication concentrates. groupBy gets map-side partial aggregation
      // (every task bounded), and the join back is by the same hash key.
      // Null-safe equality (<=>): md5(NULL) is NULL and an equi-join would
      // silently drop null-text docs (none in testdata, plenty at scale).
      // The agg side has one row per DISTINCT text — unbounded key set, so
      // it is hint-proofed against broadcast flips like every corpus-sized
      // join side (shuffle_hash, policy in docs/PLANS.md).
      val h = docs(s, dir).select(col("doc_id"), md5(col("text")).as("h"))
      val m = h.groupBy("h").agg(min(col("doc_id")).as("keep_id"))
        .withColumnRenamed("h", "hm").hint("shuffle_hash")
      h.join(m, col("h") <=> col("hm"))
        .select(col("doc_id"), col("keep_id"))
        .orderBy("doc_id")
    }),
    "q_fingerprint" -> ((s, dir) =>
      // whitespace as an EXPLICIT class, not \s: Java's \s includes \x0B
      // (vertical tab) while RE2's does not — the same engine fork the
      // BpePattern comment documents; \s+ here would silently diverge the
      // two engines' fingerprints on a \x0B-bearing page
      docs(s, dir)
        .select(col("doc_id"),
          md5(lower(regexp_replace(col("text"), "[ \\t\\n\\f\\r]+", " "))).as("fp"))
        .orderBy("doc_id")),
    "q_winnow_fingerprints" -> ((s, dir) => {
      // Winnowing (MOSS) local fingerprints: char-8-gram hashes, window-16
      // minima, distinct per doc — guarantees a shared fingerprint for any
      // shared substring of ≥ 23 chars (w + k − 1). Gate form hashes grams
      // with md5 so DuckDB recomputes the identical values; the production
      // kernel (graft_winnow) is a seeded Rabin–Karp ROLLING hash, O(1) per
      // position — same selection, pinned by WinnowSpec.
      graft.functions.GraftExpressions.register(s)
      docs(s, dir)
        .select(col("doc_id"),
          explode(call_function("graft_winnow_md5", col("text"), lit(8), lit(16))).as("fp"))
        .orderBy("doc_id", "fp")
    }),
    "q_winnow_pairs" -> ((s, dir) =>
      // Near-dup pairs by SHARED winnowing fingerprints (the MOSS report
      // shape) — the third candidate family next to MinHash banding and
      // SimHash chunking. md5 gram hashes = the cross-engine gate form; the
      // production entry [[winnowPairs]] runs the same plan over the seeded
      // Rabin–Karp rolling kernel.
      winnowPairsBy(docs(s, dir),
        call_function("graft_winnow_md5", col("text"), lit(8), lit(16)))._1),
    "q_paragraph_dedup" -> ((s, dir) => {
      // Sub-document (paragraph-level) exact dedup — see [[paragraphDedup]].
      // The deterministic paragraph rule is 10-word blocks (final partial
      // block included): the driver's documents are single-line, so a
      // newline rule would be vacuous here; the production entry takes any
      // paragraph array column.
      graft.functions.GraftExpressions.register(s)
      paragraphDedup(docs(s, dir),
        call_function("graft_word_blocks", col("text"), lit(10)))
        .orderBy("doc_id", "para_idx")
    }),
    "q_paragraph_scrub" -> ((s, dir) => {
      // The acting half of q_paragraph_dedup (CCNet line dedup): rebuild
      // text with non-first paragraph occurrences removed — see
      // [[scrubDupParagraphs]]. Keep rule (globally-first by (doc_id,
      // para_idx)) is a min-struct in Spark ≡ row_number in the oracle;
      // reconstruction joins kept blocks with ' ', which reproduces the
      // original text exactly when nothing is removed (blocks partition
      // the token stream).
      graft.functions.GraftExpressions.register(s)
      scrubDupParagraphs(docs(s, dir),
        call_function("graft_word_blocks", col("text"), lit(10)))
        .orderBy("doc_id")
    }),
    "q_repetition" -> ((s, dir) => {
      // Gopher-style repetition quality signals: most-frequent word-2-gram
      // character mass, duplicated-2-gram character mass, duplicate-block
      // ("line") fraction. ALL per-row reductions → ONE fused codegen
      // expression, so the plan is a narrow map with ZERO exchanges — the
      // relational form (explode → groupBy(doc_id, gram) → argmax) would
      // shuffle the corpus' entire token stream for a query that needs no
      // cross-doc information. Integer masses + single final divisions →
      // bitwise-oracleable; tie-break = smallest gram in UTF-8 byte order
      // (≡ DuckDB ORDER BY c DESC, g ASC — see GramKernel.repStats).
      graft.functions.GraftExpressions.register(s)
      docs(s, dir)
        .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
          call_function("graft_rep_stats", col("text"), lit(2), lit(10)).as("r"))
        .select(
          col("doc_id"),
          col("r.top_gram").as("top_2gram"),
          col("r.top_count").as("top_2gram_count"),
          when(col("n_chars") > 0,
            (col("r.top_count") * length(col("r.top_gram")).cast("long")).cast("double")
              / col("n_chars").cast("double")).as("top_2gram_char_frac"),
          when(col("r.mass_all") > 0,
            col("r.mass_dup").cast("double") / col("r.mass_all").cast("double"))
            .as("dup_2gram_char_frac"),
          when(col("r.nb") > 0,
            (col("r.nb") - col("r.ndb")).cast("double") / col("r.nb").cast("double"))
            .as("dup_line_frac"))
        .orderBy("doc_id")
    }),
    "q_token_stats" -> ((s, dir) =>
      docs(s, dir)
        .select(
          col("doc_id"),
          size(split(col("text"), " ", -1)).cast("long").as("n_tokens"),
          size(array_distinct(split(col("text"), " ", -1))).cast("long").as("n_distinct"),
          length(col("text")).cast("long").as("n_chars"))
        .orderBy("doc_id")),
    "q_quality" -> ((s, dir) => {
      // graft_lex_count / graft_len_sum: same integers as the
      // filter/transform/aggregate HOF trees (which Spark evaluates
      // interpreted, one boxed lambda per token — a CPU multiplier over
      // a 100 TB corpus); oracle unchanged
      graft.functions.GraftExpressions.register(s)
      val ws = split(col("text"), " ", -1)
      val nWords = size(ws).cast("long")
      val stopCnt = call_function("graft_lex_count", col("text"), array(LangLex.stop.map(lit): _*))
      val sumLen = call_function("graft_len_sum", ws)
      docs(s, dir)
        .select(
          col("doc_id"),
          nWords.as("n_words"),
          (stopCnt.cast("double") / nWords.cast("double")).as("stop_ratio"),
          (sumLen.cast("double") / nWords.cast("double")).as("avg_wlen"))
        .orderBy("doc_id")
    }),
    "q_lang_id" -> ((s, dir) => {
      // Lexicon-scored language ID: occurrences of each language's
      // high-frequency function words over the token stream, argmax with a
      // deterministic tie-break (en > de > fr > es), all-zero → unknown.
      // (Round 1-2 used a first-match contains() chain — one token decided
      // the language; this weighs evidence, which is what an n-gram
      // heuristic means.) Exact integer counts → bitwise-oracleable.
      graft.functions.GraftExpressions.register(s)
      def score(lex: Seq[String]): Column =
        call_function("graft_lex_count", col("text"), array(lex.map(lit): _*))
      val sEn = score(LangLex.en); val sDe = score(LangLex.de)
      val sFr = score(LangLex.fr); val sEs = score(LangLex.es)
      val m = greatest(sEn, sDe, sFr, sEs)
      docs(s, dir)
        .select(
          col("doc_id"),
          // null text → every score NULL → m NULL: without the isNull arm
          // all equality branches are NULL (false) and the otherwise fired,
          // labeling null-text docs "es" (round-5 review); they are
          // "unknown" (score stays NULL, mirrored in the oracle)
          when(m.isNull || m === 0, "unknown")
            .when(sEn === m, "en")
            .when(sDe === m, "de")
            .when(sFr === m, "fr")
            .otherwise("es").as("lang_pred"),
          m.as("score"))
        .orderBy("doc_id")
    }),
    "q_bpe_tokens" -> ((s, dir) => {
      // BPE-style pre-tokenization (the GPT-2 pretokenizer's character-class
      // core): letter runs, digit runs, single punctuation marks. The
      // pattern uses only portable character classes, so Java regex (Spark)
      // and RE2 (DuckDB) tokenize identically symbol-for-symbol.
      graft.functions.GraftExpressions.register(s)
      val toks = regexp_extract_all(col("text"), lit(BpePattern), lit(0))
      docs(s, dir)
        .select(
          col("doc_id"),
          size(toks).cast("long").as("n_subtokens"),
          size(array_distinct(toks)).cast("long").as("n_distinct_subtokens"),
          // graft_len_sum ≡ aggregate(transform(toks, length)) incl. the
          // null-propagation contract the oracle's gated coalesce mirrors
          call_function("graft_len_sum", toks).as("n_subtoken_chars"))
        .orderBy("doc_id")
    }),
    "q_ngram_jaccard_pairs" -> ((s, dir) =>
      jaccardPairsBy(docs(s, dir), 0.05,
        call_function("graft_shingle_hashes", _, lit(3), lit(lshConfig.seed)))._1),
    "q_chargram_jaccard_pairs" -> ((s, dir) =>
      // char-5-gram shingles (the reference's MinHash input is ANY symbol
      // set, minhash.jl:146-170; north star: "character/word shingles").
      // df-capped at 50: the boilerplate-shingle O(df²) bucket guard the
      // word-trigram form (q_ngram, left uncapped as the exact oracle)
      // would need at real scale — VERDICT r1 What's wrong #6.
      jaccardPairsBy(docs(s, dir), 0.5,
        call_function("graft_char_shingle_hashes", _, lit(5), lit(lshConfig.seed)),
        dfCap = Some(50L))._1),
    // ------------------------------------------------------------ LSH dedup
    "q_minhash_lsh_pairs" -> ((s, dir) =>
      Dedup.nearDupPairs(docsAsCorpus(s, dir), lshConfig)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("jaccard"))
        .orderBy("doc_a", "doc_b")),
    "q_dedup_clusters" -> ((s, dir) =>
      Dedup.clusters(docsAsCorpus(s, dir), lshConfig)
        .select(col("id").as("doc_id"), col("cluster_id"))
        .orderBy("doc_id")),
    "q_decontaminate" -> ((s, dir) => {
      // Train/eval decontamination: corpus docs near-duplicate (exact
      // word-trigram Jaccard ≥ 0.5, LSH-candidated) to a held-out eval
      // set — here the deterministic doc_id % 7 == 0 slice, which crosses
      // enough planted dup groups to make the gate non-trivial at every sf.
      // Asymmetric scale shape: the eval side's bands BROADCAST, so the
      // corpus band relation is probed at the scan with no corpus-wide
      // shuffle (see graft.pipeline.Decontaminate). Bitwise-oracleable for
      // the same reason as q_minhash_lsh_pairs: the output is exact
      // Jaccard, kernel-independent; min cross-split J in this corpus is
      // 0.8 where banding miss prob is (1−0.8³)^42 ≈ 8.6e-14.
      val d = docsAsCorpus(s, dir)
      graft.pipeline.Decontaminate
        .pairs(d.where(col("id") % 7 =!= 0), d.where(col("id") % 7 === 0), lshConfig)
        .orderBy("doc_id", "eval_id")
    }),
    "q_minhash_signatures" -> ((s, dir) => {
      // SQL-transparent MinHash (SURVEY §2.a ops #1-2): 16 lanes, lane hash =
      // md5-derived 60-bit integer, signature lane = min over the doc's
      // word-trigram shingle set. Puts signature VALUES under the bitwise
      // DuckDB gate (the splitmix production kernel is gated end-to-end by
      // q_minhash_lsh_pairs / q_dedup_clusters, whose exact-Jaccard output
      // is kernel-independent). Scalar rows: (doc_id, lane, minhash).
      graft.functions.GraftExpressions.register(s)
      docs(s, dir)
        // the table is one parquet file → one scan task; spread the k·grams
        // md5 work across the cluster before the heavy projection. The N is
        // EXPLICIT so AQE cannot coalesce the byte-light exchange back into
        // a few CPU-bound tasks (this sandbox's documented pathology).
        // Plain cores, NOT a 2× multiplier: the round-3 A/B measured the
        // 2×/4× partition multipliers at ~2× warm wall at 32 threads via
        // shuffle-file syscall churn (round-6 review caught this stray
        // survivor of the old policy).
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id"),
          // one fused codegen pass: text → word trigrams → 16 lane minima
          // (value-identical to explode×grams×16 + groupBy(min); min is
          // duplicate-idempotent so gram distinctness is immaterial; docs
          // under 3 words yield an empty array → no rows, like the oracle)
          posexplode(call_function("graft_md5_minhash_text",
            col("text"), lit(3), lit(16))).as(Seq("lane", "minhash")))
        .select(col("doc_id"), col("lane").cast("long").as("lane"), col("minhash"))
        .orderBy("doc_id", "lane")
    }),
    "q_simhash_pairs" -> ((s, dir) =>
      // 56-bit md5-token SimHash; candidates share any of 7 byte-chunks
      // (pigeonhole-complete for hamming ≤ 6); census-capped chunk buckets
      // (cap 200, replicated in the oracle) — the same skew gate as the
      // minhash path (VERDICT r1 What's wrong #3).
      SimHashDedup.pairs(docs(s, dir), maxHamming = 6, maxBucket = 200L)
        .orderBy("doc_a", "doc_b")),
    "q_stream_neardup" -> ((s, dir) =>
      // The STREAMING stateful near-dup operator under the bitwise gate:
      // flatMapGroupsWithState executes identically over bounded batch input
      // (the stream≡batch equivalence NearDupStreamSpec pins), so its pair
      // set is parquet-dumpable and SQL-expressible. maxMembers sits above
      // any test corpus so the (arrival-order-dependent) state cap cannot
      // engage — capped output is order-dependent and cannot be oracled; the
      // census-capped batch form is q_simhash_pairs.
      graft.streaming.NearDupStream
        .pairs(docs(s, dir).select(col("doc_id"), col("text")),
          maxHamming = 6, maxMembers = 1 << 22)
        .toDF()
        .select(col("doc_a"), col("doc_b"), col("hamming").cast("long").as("hamming"))
        .dropDuplicates("doc_a", "doc_b")
        .orderBy("doc_a", "doc_b")),
    // ---------------------------------------------------- similarity search
    "q_embedding_topk" -> ((s, dir) => {
      graft.functions.GraftExpressions.register(s)
      val q = tbl(s, dir, "embeddings")
        .select(col("vec_id"), call_function("graft_quantize", col("embedding")).as("v"))
      val probes = q.where(col("vec_id") < 5)
        .select(col("vec_id").as("probe_id"), col("v").as("pv"))
      val scored = broadcast(probes).join(q, col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"),
          call_function("graft_cosq", col("pv"), col("v")).as("cos_sim"))
      val w = Window.partitionBy("probe_id").orderBy(col("cos_sim").desc, col("vec_id").asc)
      scored.withColumn("rnk", row_number().over(w).cast("long"))
        .where(col("rnk") <= 10)
        .select("probe_id", "vec_id", "rnk", "cos_sim")
        .orderBy("probe_id", "rnk")
    }),
    "q_embedding_lsh_ann" -> ((s, dir) => {
      // Multi-table Rademacher-hyperplane LSH for cosine ANN: 8 tables ×
      // bitsForCorpus(n) bits — the bucket width is DERIVED from the corpus
      // row count (one metadata-cheap count action, the stats-driven-planning
      // analogue; VERDICT r2 What's wrong #5 — the hardwired 6 bits
      // degenerated to n/64-sized buckets at 10⁹ vectors), candidates = same
      // bucket in ANY table (OR-amplification), census cap on (table,
      // bucket) mirroring the dedup pipeline's hot-bucket gate, ID-ONLY pair
      // dedup (vectors re-joined after the shuffle), exact quantized-cosine
      // rerank. Integer plane dots + the integer bit rule keep the whole
      // bucket derivation reproducible in the DuckDB oracle (which recomputes
      // bits from count(*) the same way).
      graft.functions.GraftExpressions.register(s)
      val emb = tbl(s, dir, "embeddings")
      // corpus count from parquet FOOTERS (driver-side metadata read, no
      // job) — the oracle still recomputes the same integer from count(*)
      val b = Planes.bitsForCorpus(
        graft.sources.TableIO.rowCount(s, s"$dir/embeddings.parquet"),
        Planes.AnnTargetBucket)
      // CACHED: the quantized projection feeds the bucket relation AND both
      // wide rerank joins, and the bucket relation feeds census + gate +
      // both self-join sides — uncached, graft_quantize/graft_plane_bits
      // re-ran on SIX scan branches (visible in the round-5 PLANS.md dump;
      // the r3 SimHash chunk-relation lesson applied late, round-6 review).
      // Query-map forms rely on Bench/Verify's clearCache between queries.
      val e = emb.select(col("vec_id"),
        call_function("graft_quantize", col("embedding")).as("v")).cache()
      // per-table packed sign bits via the native codegen kernel (one fused
      // loop per table over planes [t·b, (t+1)·b) — no 64-bit packing cap,
      // so the same code carries ≥20-bit buckets at web scale)
      val buckets = e.select(col("vec_id"),
        posexplode(array((0 until Planes.AnnTables).map(t =>
          call_function("graft_plane_bits", col("v"), lit("ann"), lit(t * b), lit(b))): _*))
          .as(Seq("table_idx", "bucket")))
        .cache()
      val keys = Seq("table_idx", "bucket")
      val census = buckets.groupBy(keys.map(col): _*).agg(count(lit(1)).as("bucket_size"))
      // census gate FORCED to shuffle: unbounded key set (one row per
      // non-singleton bucket — grows with the corpus), and this runtime's
      // measured phantom-broadcast OOM (Dedup.rawCandidatesFromCensus) applies
      // to any AQE broadcast flip of it — same trap, same fix
      val ok = buckets.join(
        census.where(col("bucket_size").between(2, Planes.AnnCap)).select(keys.map(col): _*)
          .hint("shuffle_hash"),
        keys)
      val cand = ok.select(col("table_idx"), col("bucket"), col("vec_id").as("vec_a"))
        .join(
          // corpus-sized self-join side: keep it off the broadcast path
          // (narrow rows, census-capped keys → shuffle-hash)
          ok.select(col("table_idx"), col("bucket"), col("vec_id").as("vec_b"))
            .hint("shuffle_hash"),
          keys)
        .where(col("vec_a") < col("vec_b"))
        .select("vec_a", "vec_b")
        .dropDuplicates("vec_a", "vec_b") // ids only: no 64-lane vectors in this exchange
      cand
        // the vector re-join sides are the WHOLE embedding table (unique
        // keys, wide array payload): sort-merge, never broadcast
        .join(e.select(col("vec_id").as("vec_a"), col("v").as("va")).hint("merge"), "vec_a")
        .join(e.select(col("vec_id").as("vec_b"), col("v").as("vb")).hint("merge"), "vec_b")
        .select(col("vec_a"), col("vec_b"),
          call_function("graft_cosq", col("va"), col("vb")).as("cos_sim"))
        .where(col("cos_sim") >= 0.35)
        .orderBy("vec_a", "vec_b")
    }),
    "q_ivf_ann" -> ((s, dir) => {
      // IVF (inverted-file) cosine ANN — the coarse-quantizer twin of
      // q_embedding_lsh_ann (the scale-path pair the brief names: "an IVF
      // or LSH-bucketed variant"; this engine ships BOTH, they trade recall
      // shape differently: LSH buckets by random hyperplanes, IVF by
      // data-dependent regions). ceil(√n) cells with n read from parquet
      // FOOTERS (driver-side metadata, no job; IEEE sqrt is exactly rounded
      // so the oracle's ceil(sqrt(count(*))) is the same integer); the
      // kernel and its scale shape live in [[ivfTopKWithHandle]].
      val nRows = graft.sources.TableIO.rowCount(s, s"$dir/embeddings.parquet")
      ivfTopK(tbl(s, dir, "embeddings"), col("vec_id") < 5,
        nCells = math.ceil(math.sqrt(nRows.toDouble)).toInt)
    }),
    "q_mips_signalsh" -> ((s, dir) => {
      // SignALSH maximum-inner-product retrieval (SURVEY §2.a ops #10-12)
      // via the generic graft.pipeline.SignAlshRetrieval: P-transform corpus
      // hashing, Q-transform probes, in-plan maxnorm, hamming rank. This is
      // the SINGLE-TABLE oracled instantiation with the bucket prefix
      // derived from the corpus count (bitsForCorpus, capped at 12 so ≥4 of
      // the 16 sign planes stay pure ranking bits); the production plan for
      // a big corpus comes from SignAlshRetrieval.planFor, whose multi-table
      // path is exercised by MipsMultiTableSpec (the oracle needs ONE fixed
      // shape, and tables > 1 only engages beyond ~2^12·32 vectors).
      graft.functions.GraftExpressions.register(s)
      val emb = tbl(s, dir, "embeddings")
      val qb = math.min(12, Planes.bitsForCorpus(
        graft.sources.TableIO.rowCount(s, s"$dir/embeddings.parquet"),
        Planes.AnnTargetBucket))
      val e = emb.select(col("vec_id"), call_function("graft_quantize", col("embedding")).as("v"))
      SignAlshRetrieval
        .topK(e, SignAlshRetrieval.MipsPlan(1, 16, qb), col("vec_id") < 5, 10)
        .orderBy("probe_id", "rnk")
    }),
    "q_lp_bucket" -> ((s, dir) => {
      // p-stable L2 LSH bucketing (SURVEY §2.a ops #7-8): ⌊(a·x + b)/W⌋ per
      // lane with integer-Gaussian (Irwin–Hall) coefficients — exact integer
      // dot + one IEEE floor, bitwise-reproducible in DuckDB. Scalar rows:
      // (vec_id, lane, lp_bucket) — round 1 emitted a raw array column that
      // crashed the harness row-sorter.
      graft.functions.GraftExpressions.register(s)
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), call_function("graft_quantize", col("embedding")).as("v"))
      val buckets = array((0 until Planes.LpLanes).map { j =>
        // graft_dot against the foldable coefficient literal — the
        // dotConst HOF tree runs interpreted per corpus row (same values)
        floor((call_function("graft_dot", col("v"), typedLit(Planes.lpCoeff(j).toSeq))
          + lit(Planes.lpShift(j)))
          .cast("double") / lit(Planes.LpW.toDouble)).cast("long")
      }: _*)
      e.select(col("vec_id"), posexplode(buckets).as(Seq("lane", "lp_bucket")))
        .select(col("vec_id"), col("lane").cast("long").as("lane"), col("lp_bucket"))
        .orderBy("vec_id", "lane")
    }),
    // ------------------------------------------------------------ relational
    "q1_agg" -> ((s, dir) =>
      tbl(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc"),
          (sum(col("l_quantity")) / count(lit(1)).cast("double")).as("avg_qty"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")),
    "q_join_agg" -> ((s, dir) => {
      val c = tbl(s, dir, "customer")
      val o = tbl(s, dir, "orders")
      val l = tbl(s, dir, "lineitem")
      // AGGREGATE BEFORE THE JOIN (guide §2.3): lineitem revenue is first
      // partial-aggregated by l_orderkey (map-side combine — the join then
      // carries one row per order instead of every line item), and because
      // o_orderkey is the orders PK each pre-aggregated row matches exactly
      // one order/customer, so countDistinct(o_orderkey) ≡ count(*) here —
      // the countDistinct form planned a 3-aggregate ladder with an extra
      // (segment, orderkey) exchange AFTER the widest join (r7 before-plan:
      // HashAgg×3 + Exchange×2 above the joins; after: one groupBy).
      // Revenue re-association is within the round(,2) money-sum tolerance
      // this file's determinism rules already rely on (sum order was never
      // pinned under partitioning).
      val lrev = l.groupBy(col("l_orderkey"))
        .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
      lrev.join(o, col("l_orderkey") === col("o_orderkey"))
        // customer is sf-SCALED (1.5e9 rows at TPC-H sf1000), not a fixed
        // dim — an explicit broadcast is the unbounded-side flip the rest
        // of the file hint-proofs against; the narrow 2-column projection
        // shuffle-hash-joins scale-safely
        .join(c.select("c_custkey", "c_mktsegment").hint("shuffle_hash"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
          count(lit(1)).as("n_orders"),
          round(sum(col("rev")), 2).as("revenue"))
        .orderBy("c_mktsegment")
    }),
    "q_window_topn" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      tbl(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey")
    }),
    "q_events_daily" -> ((s, dir) =>
      tbl(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .orderBy("event_type", "day")),
    // --------------------------------------------------------- multimodal
    "q_multimodal_meta" -> ((s, dir) => {
      // Binary-column plumbing: opaque bytes + payload-level metadata via
      // codegen'd column ops (never a decoder). Typed CONTAINER metadata —
      // real BMP/WAV header decode, pure byte arithmetic — is gated
      // separately by q_media_headers; only entropy-coded pixel/sample
      // decode (JPEG/PNG/MP3) remains stubbed (no codecs in this env) —
      // see graft.multimodal.Multimodal.
      val bin = encode(col("text"), "UTF-8")
      docs(s, dir)
        .select(
          col("doc_id"),
          octet_length(bin).cast("long").as("n_bytes"),
          // binary substring BEFORE hex — same output, no 2×-payload
          // string per row (the Multimodal.metadata posture)
          hex(substring(bin, 1, 4)).as("magic"))
        .orderBy("doc_id")
    }),
    "q_media_headers" -> ((s, dir) => {
      // REAL container-header decode under the bitwise gate: deterministic
      // BMP/WAV/garbage payloads are synthesized from (doc_id, text) with
      // little-endian ByteBuffer writes, then round-tripped through
      // Multimodal.typedMetadata (Headers.parse — manual le16/le32 byte
      // arithmetic, an independent code path); the oracle recomputes the
      // expected fields directly from the same integer spec, so an offset
      // or sign error in either encode or decode breaks parity. Negative
      // BMP heights (top-down rows) exercise signed le32.
      graft.multimodal.Multimodal.typedMetadata(syntheticMedia(s, dir))
        .toDF()
        .select(
          col("id").as("doc_id"),
          col("format"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("channels").cast("long").as("channels"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("bits_per_sample").cast("long").as("bits_per_sample"))
        .orderBy("doc_id")
    }),
    "q_wav_frames" -> ((s, dir) => {
      // REAL PCM frame sampling under the bitwise gate (the brief's
      // "frame-sample" op): the synthetic WAVs carry an actual data chunk
      // (frames of channels × bits/8-byte samples, values from an integer
      // spec), Multimodal.sampleWavFrames decodes every 4th frame's
      // channel-0 sample by manual byte arithmetic (8-bit unsigned+128
      // bias, 16/24/32-bit signed LE sign-extension, stride = the header's
      // block align), and the oracle recomputes the expected samples from
      // the same integer spec — encode and decode are independent code
      // paths, so a stride/bias/sign error on either side breaks parity.
      graft.multimodal.Multimodal.sampleWavFrames(syntheticMedia(s, dir), every = 4)
        .toDF()
        .select(col("id").as("doc_id"), col("frame_idx"), col("sample"))
        .orderBy("doc_id", "frame_idx")
    })
  )

  def oracleSql: Map[String, String] = {
    // shared CTE prefix: word-trigram shingles + sizes + pair intersections
    def pairCtes: String =
      """t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |sh AS (SELECT DISTINCT doc_id, s FROM t, UNNEST(list_transform(range(1, greatest(len(ws)-1, 1)), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) u(s)),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |jac AS (SELECT doc_a, doc_b, CAST(c AS DOUBLE)/CAST(sa.n + sb.n - c AS DOUBLE) AS jaccard
        |        FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b)""".stripMargin
    // md5-derived 60-bit integer (CrossEngine.md5long / md5longCol)
    def h15(e: String): String = s"CAST('0x'||substring(md5($e),1,15) AS BIGINT)"
    // ±1 Rademacher plane entry for tag:p:i (CrossEngine.rademacher)
    def rad(tag: String, p: String, i: String): String =
      s"CASE WHEN substring(md5('$tag:'||$p||':'||$i),1,1) BETWEEN '0' AND '7' THEN 1 ELSE -1 END"
    // SQL IN-list from the SHARED Scala lexicon constants — never re-typed
    def inList(lex: Seq[String]): String = lex.map(w => s"'$w'").mkString(", ")
    // 1e3-quantized int64 embedding (GraftFunctions.quantize)
    val qVec =
      "q AS (SELECT vec_id, list_transform(embedding, e -> CAST(round(CAST(e AS DOUBLE)*1000) AS BIGINT)) AS v FROM embeddings)"
    Map(
      "q_exact_dedup" ->
        """WITH h AS (SELECT doc_id, md5(text) AS h FROM documents),
          |m AS (SELECT h, min(doc_id) AS keep_id FROM h GROUP BY h)
          |SELECT doc_id, keep_id FROM h JOIN m ON h.h IS NOT DISTINCT FROM m.h
          |ORDER BY doc_id""".stripMargin,
      "q_fingerprint" ->
        raw"SELECT doc_id, md5(lower(regexp_replace(text, '[ \t\n\f\r]+', ' ', 'g'))) AS fp FROM documents ORDER BY doc_id",
      // winnowing: gram hash = md5long15 of the char-8-gram, fingerprints =
      // distinct minima over every window of 16 consecutive gram hashes
      // (docs with <16 grams get the single min over all grams — the
      // `i <= greatest(1, G-15)` clause keeps exactly the kernel's windows)
      "q_winnow_fingerprints" ->
        s"""WITH g AS (SELECT doc_id, CAST(i AS BIGINT) AS i,
           |             ${h15("substring(text, CAST(i AS INTEGER), 8)")} AS h
           |           FROM documents, UNNEST(list_transform(range(1, greatest(length(text)-6, 1)), x -> x)) u(i)
           |           WHERE text IS NOT NULL),
           |win AS (SELECT doc_id, i,
           |          min(h) OVER (PARTITION BY doc_id ORDER BY i ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS f,
           |          count(*) OVER (PARTITION BY doc_id) AS gc
           |        FROM g)
           |SELECT DISTINCT doc_id, f AS fp FROM win WHERE i <= greatest(1, gc - 15) ORDER BY doc_id, fp""".stripMargin,
      "q_winnow_pairs" ->
        s"""WITH g AS (SELECT doc_id, CAST(i AS BIGINT) AS i,
           |             ${h15("substring(text, CAST(i AS INTEGER), 8)")} AS h
           |           FROM documents, UNNEST(list_transform(range(1, greatest(length(text)-6, 1)), x -> x)) u(i)
           |           WHERE text IS NOT NULL),
           |win AS (SELECT doc_id, i,
           |          min(h) OVER (PARTITION BY doc_id ORDER BY i ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS f,
           |          count(*) OVER (PARTITION BY doc_id) AS gc
           |        FROM g),
           |fp0 AS (SELECT DISTINCT doc_id, f AS fp FROM win WHERE i <= greatest(1, gc - 15)),
           |keep AS (SELECT fp FROM fp0 GROUP BY fp HAVING count(*) <= 50),
           |fps AS (SELECT fp0.doc_id, fp0.fp FROM fp0 JOIN keep ON keep.fp = fp0.fp),
           |sz AS (SELECT doc_id, count(*) AS n FROM fps GROUP BY doc_id),
           |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
           |          FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id GROUP BY 1, 2),
           |ov AS (SELECT doc_a, doc_b, c AS n_shared,
           |         CAST(c AS DOUBLE)/CAST(sa.n + sb.n - c AS DOUBLE) AS overlap
           |       FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
           |       WHERE c >= 2)
           |SELECT doc_a, doc_b, n_shared, overlap FROM ov WHERE overlap >= 0.2 ORDER BY doc_a, doc_b""".stripMargin,
      // paragraph rule = 10-word blocks, final partial block included:
      // ⌈len/10⌉ blocks via integer arithmetic ((len+9)//10 — a float ceil
      // could fork the engines at a representation boundary); slice
      // ws[i*10+1 : i*10+10] is 1-based inclusive and truncates at len,
      // exactly GramKernel.wordBlocks
      "q_paragraph_dedup" ->
        """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |p AS (SELECT doc_id, CAST(i AS BIGINT) AS para_idx,
          |        md5(array_to_string(ws[i*10+1:i*10+10], ' ')) AS h
          |      FROM t, UNNEST(list_transform(range(0, (len(ws)+9)//10), x -> x)) u(i)),
          |c AS (SELECT h, CAST(count(*) AS BIGINT) AS n_copies FROM p GROUP BY h)
          |SELECT doc_id, para_idx, n_copies, (n_copies >= 2) AS is_dup
          |FROM p JOIN c USING (h)
          |ORDER BY doc_id, para_idx""".stripMargin,
      // keep = first global occurrence (row_number ≡ Spark's min-struct);
      // docs losing EVERY paragraph (exact dups) need the coalesce('') —
      // DuckDB string_agg over zero kept rows is NULL, Spark array_join
      // over an empty array is ''
      "q_paragraph_scrub" ->
        """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |p AS (SELECT doc_id, CAST(i AS BIGINT) AS para_idx, array_to_string(ws[i*10+1:i*10+10], ' ') AS para
          |      FROM t, UNNEST(list_transform(range(0, (len(ws)+9)//10), x -> x)) u(i)),
          |m AS (SELECT doc_id, para_idx, para,
          |        row_number() OVER (PARTITION BY md5(para) ORDER BY doc_id, para_idx) AS rn
          |      FROM p)
          |SELECT doc_id,
          |  CAST(count(*) AS BIGINT) AS n_paras,
          |  CAST(count(*) FILTER (WHERE rn > 1) AS BIGINT) AS n_removed,
          |  coalesce(string_agg(para, ' ' ORDER BY para_idx) FILTER (WHERE rn = 1), '') AS text_clean
          |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      // relational recomputation of the fused graft_rep_stats kernel: the
      // row_number tie-break (c DESC, gr ASC) ≡ the kernel's UTF-8-byte-order
      // smallest-gram rule; masses are exact integers, single final division
      "q_repetition" ->
        """WITH t AS (SELECT doc_id, length(text) AS n_chars, string_split(text, ' ') AS ws FROM documents),
          |p AS (SELECT doc_id, array_to_string(ws[i*10+1:i*10+10], ' ') AS para
          |      FROM t, UNNEST(list_transform(range(0, (len(ws)+9)//10), x -> x)) u(i)),
          |b AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nb, CAST(count(DISTINCT para) AS BIGINT) AS ndb FROM p GROUP BY 1),
          |g AS (SELECT doc_id, ws[i]||' '||ws[i+1] AS gr FROM t, UNNEST(list_transform(range(1, len(ws)), x -> x)) u(i)),
          |c AS (SELECT doc_id, gr, count(*) AS c FROM g GROUP BY 1, 2),
          |top AS (SELECT doc_id, gr, c, row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, gr ASC) AS rn FROM c),
          |m AS (SELECT doc_id, CAST(sum(c*length(gr)) AS BIGINT) AS mass_all,
          |        CAST(coalesce(sum(CASE WHEN c >= 2 THEN c*length(gr) END), 0) AS BIGINT) AS mass_dup
          |      FROM c GROUP BY 1)
          |SELECT t.doc_id, top.gr AS top_2gram, CAST(top.c AS BIGINT) AS top_2gram_count,
          |  CASE WHEN n_chars > 0 THEN CAST(top.c*length(top.gr) AS DOUBLE)/CAST(n_chars AS DOUBLE) END AS top_2gram_char_frac,
          |  CASE WHEN mass_all > 0 THEN CAST(mass_dup AS DOUBLE)/CAST(mass_all AS DOUBLE) END AS dup_2gram_char_frac,
          |  CASE WHEN nb > 0 THEN CAST(nb-ndb AS DOUBLE)/CAST(nb AS DOUBLE) END AS dup_line_frac
          |FROM t LEFT JOIN top ON top.doc_id = t.doc_id AND top.rn = 1
          |       LEFT JOIN b ON b.doc_id = t.doc_id
          |       LEFT JOIN m ON m.doc_id = t.doc_id
          |ORDER BY t.doc_id""".stripMargin,
      "q_token_stats" ->
        """SELECT doc_id,
          |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
          |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
          |  CAST(length(text) AS BIGINT) AS n_chars
          |FROM documents ORDER BY doc_id""".stripMargin,
      "q_quality" ->
        s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
           |SELECT doc_id,
           |  CAST(len(ws) AS BIGINT) AS n_words,
           |  CAST(len(list_filter(ws, x -> x IN (${inList(LangLex.stop)}))) AS DOUBLE) / CAST(len(ws) AS DOUBLE) AS stop_ratio,
           |  CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE) / CAST(len(ws) AS DOUBLE) AS avg_wlen
           |FROM w ORDER BY doc_id""".stripMargin,
      "q_lang_id" -> {
        s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           |sc AS (SELECT doc_id,
           |  CAST(len(list_filter(ws, x -> x IN (${inList(LangLex.en)}))) AS BIGINT) AS s_en,
           |  CAST(len(list_filter(ws, x -> x IN (${inList(LangLex.de)}))) AS BIGINT) AS s_de,
           |  CAST(len(list_filter(ws, x -> x IN (${inList(LangLex.fr)}))) AS BIGINT) AS s_fr,
           |  CAST(len(list_filter(ws, x -> x IN (${inList(LangLex.es)}))) AS BIGINT) AS s_es
           |  FROM w)
           |SELECT doc_id,
           |  CASE WHEN greatest(s_en, s_de, s_fr, s_es) IS NULL
           |         OR greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'unknown'
           |       WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
           |       WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
           |       WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
           |       ELSE 'es' END AS lang_pred,
           |  greatest(s_en, s_de, s_fr, s_es) AS score
           |FROM sc ORDER BY doc_id""".stripMargin
      },
      "q_bpe_tokens" ->
        // the coalesce is gated on toks IS NOT NULL so a null-text doc stays
        // NULL on both engines (Spark's aggregate over a null array is NULL;
        // an unconditional coalesce would turn DuckDB's NULL into 0 and fork
        // the gate); an EMPTY token list is 0 on both (Spark aggregate init
        // vs coalesced list_sum)
        raw"""WITH t AS (SELECT doc_id, regexp_extract_all(text, '$BpePattern') AS toks FROM documents)
           |SELECT doc_id,
           |  CAST(len(toks) AS BIGINT) AS n_subtokens,
           |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_subtokens,
           |  CAST(CASE WHEN toks IS NULL THEN NULL ELSE coalesce(list_sum(list_transform(toks, x -> length(x))), 0) END AS BIGINT) AS n_subtoken_chars
           |FROM t ORDER BY doc_id""".stripMargin,
      "q_ngram_jaccard_pairs" ->
        s"""WITH $pairCtes
           |SELECT doc_a, doc_b, jaccard FROM jac WHERE jaccard >= 0.05 ORDER BY doc_a, doc_b""".stripMargin,
      "q_chargram_jaccard_pairs" ->
        """WITH sh0 AS (SELECT DISTINCT doc_id, s
          |            FROM documents, UNNEST(list_transform(range(1, greatest(length(text)-3, 1)), i -> substring(text, CAST(i AS INTEGER), 5))) u(s)),
          |keep AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) <= 50),
          |sh AS (SELECT sh0.doc_id, sh0.s FROM sh0 JOIN keep ON keep.s = sh0.s),
          |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
          |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
          |jac AS (SELECT doc_a, doc_b, CAST(c AS DOUBLE)/CAST(sa.n + sb.n - c AS DOUBLE) AS jaccard
          |        FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b)
          |SELECT doc_a, doc_b, jaccard FROM jac WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b""".stripMargin,
      "q_minhash_lsh_pairs" ->
        s"""WITH $pairCtes
           |SELECT doc_a, doc_b, jaccard FROM jac WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b""".stripMargin,
      "q_dedup_clusters" ->
        s"""WITH RECURSIVE $pairCtes,
           |pairs AS (SELECT doc_a, doc_b FROM jac WHERE jaccard >= 0.5),
           |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
           |reach(a, b) AS (SELECT doc_id, doc_id FROM t UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
           |SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a ORDER BY doc_id""".stripMargin,
      "q_decontaminate" ->
        s"""WITH $pairCtes
           |SELECT CASE WHEN doc_a % 7 = 0 THEN doc_b ELSE doc_a END AS doc_id,
           |       CASE WHEN doc_a % 7 = 0 THEN doc_a ELSE doc_b END AS eval_id,
           |       jaccard
           |FROM jac
           |WHERE jaccard >= 0.5 AND ((doc_a % 7 = 0) <> (doc_b % 7 = 0))
           |ORDER BY doc_id, eval_id""".stripMargin,
      "q_minhash_signatures" ->
        s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           |sh AS (SELECT DISTINCT doc_id, s FROM t, UNNEST(list_transform(range(1, greatest(len(ws)-1, 1)), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) u(s)),
           |l AS (SELECT doc_id, lane, ${h15("CAST(lane AS VARCHAR)||':'||s")} AS h
           |      FROM sh, range(0,16) r(lane))
           |SELECT doc_id, lane, min(h) AS minhash FROM l GROUP BY doc_id, lane ORDER BY doc_id, lane""".stripMargin,
      "q_simhash_pairs" ->
        """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
          |th AS (SELECT doc_id, CAST('0x'||substring(md5(w),1,14) AS BIGINT) AS h FROM tok),
          |bits AS (SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE 0 END) AS ones, count(*) AS n
          |         FROM th, range(0,56) r(b) GROUP BY doc_id, b),
          |fp AS (SELECT doc_id, CAST(sum(CASE WHEN 2*ones >= n THEN (CAST(1 AS BIGINT) << CAST(b AS INTEGER)) ELSE 0 END) AS BIGINT) AS f
          |       FROM bits GROUP BY doc_id),
          |ch AS (SELECT doc_id, f, t AS chunk_idx, (f >> CAST(8*t AS INTEGER)) & 255 AS chunk FROM fp, range(0,7) r(t)),
          |okc AS (SELECT chunk_idx, chunk FROM ch GROUP BY chunk_idx, chunk HAVING count(*) BETWEEN 2 AND 200),
          |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
          |                CAST(bit_count(xor(a.f, b.f)) AS BIGINT) AS hamming
          |         FROM ch a JOIN ch b ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk AND a.doc_id < b.doc_id
          |         JOIN okc o ON o.chunk_idx = a.chunk_idx AND o.chunk = a.chunk)
          |SELECT doc_a, doc_b, hamming FROM cand WHERE hamming <= 6 ORDER BY doc_a, doc_b""".stripMargin,
      // GATE-ONLY shape: this oracle's chunk self-join runs UNCAPPED (no okc
      // census gate) — fine at verify scale, and deliberate: the stream's
      // own skew bound is its per-bucket state cap (maxMembers), which the
      // batch-mode execution honors; the census-capped batch twin is
      // q_simhash_pairs (VERDICT r5 What's wrong #4).
      "q_stream_neardup" ->
        """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents WHERE text IS NOT NULL),
          |th AS (SELECT doc_id, CAST('0x'||substring(md5(w),1,14) AS BIGINT) AS h FROM tok),
          |bits AS (SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE 0 END) AS ones, count(*) AS n
          |         FROM th, range(0,56) r(b) GROUP BY doc_id, b),
          |fp AS (SELECT doc_id, CAST(sum(CASE WHEN 2*ones >= n THEN (CAST(1 AS BIGINT) << CAST(b AS INTEGER)) ELSE 0 END) AS BIGINT) AS f
          |       FROM bits GROUP BY doc_id),
          |ch AS (SELECT doc_id, f, t AS chunk_idx, (f >> CAST(8*t AS INTEGER)) & 255 AS chunk FROM fp, range(0,7) r(t)),
          |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
          |                CAST(bit_count(xor(a.f, b.f)) AS BIGINT) AS hamming
          |         FROM ch a JOIN ch b ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
          |SELECT doc_a, doc_b, hamming FROM cand WHERE hamming <= 6 ORDER BY doc_a, doc_b""".stripMargin,
      "q_embedding_topk" ->
        """WITH q AS (SELECT vec_id, list_transform(embedding, e -> CAST(round(CAST(e AS DOUBLE)*1000) AS BIGINT)) AS v FROM embeddings),
          |p AS (SELECT a.vec_id AS probe_id, b.vec_id AS vec_id,
          |        list_sum(list_transform(range(1, len(a.v)+1), i -> a.v[i]*b.v[i])) AS dot,
          |        list_sum(list_transform(a.v, x -> x*x)) AS na,
          |        list_sum(list_transform(b.v, x -> x*x)) AS nb
          |      FROM q a JOIN q b ON b.vec_id <> a.vec_id WHERE a.vec_id < 5),
          |s AS (SELECT probe_id, vec_id, CAST(dot AS DOUBLE)/(sqrt(CAST(na AS DOUBLE))*sqrt(CAST(nb AS DOUBLE))) AS cos_sim FROM p),
          |r AS (SELECT probe_id, vec_id, cos_sim, row_number() OVER (PARTITION BY probe_id ORDER BY cos_sim DESC, vec_id) AS rk FROM s)
          |SELECT probe_id, vec_id, CAST(rk AS BIGINT) AS rnk, cos_sim FROM r WHERE rk <= 10 ORDER BY probe_id, rnk""".stripMargin,
      "q_embedding_lsh_ann" ->
        s"""WITH nb AS (SELECT greatest(4, (SELECT min(CAST(b AS INTEGER)) FROM range(0,40) r(b)
           |             WHERE (CAST(32 AS BIGINT) << CAST(b AS INTEGER)) >= (SELECT count(*) FROM embeddings))) AS bits),
           |pl AS (SELECT p, list_transform(range(0,64), i -> ${rad("ann", "p", "i")}) AS s FROM range(0,320) r(p), nb WHERE p < 8*nb.bits),
           |$qVec,
           |bk AS (SELECT q.vec_id, p // nb.bits AS table_idx,
           |        CAST(sum(CASE WHEN list_sum(list_transform(range(1,65), i -> pl.s[i]*q.v[i])) >= 0
           |             THEN (CAST(1 AS BIGINT) << CAST(p % nb.bits AS INTEGER)) ELSE 0 END) AS BIGINT) AS bucket
           |       FROM q, pl, nb GROUP BY 1, 2),
           |okb AS (SELECT table_idx, bucket FROM bk GROUP BY table_idx, bucket HAVING count(*) BETWEEN 2 AND 200),
           |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
           |         FROM bk a JOIN bk b ON a.table_idx = b.table_idx AND a.bucket = b.bucket AND a.vec_id < b.vec_id
           |         JOIN okb o ON o.table_idx = a.table_idx AND o.bucket = a.bucket),
           |sc AS (SELECT vec_a, vec_b,
           |        CAST(list_sum(list_transform(range(1,65), i -> a.v[i]*b.v[i])) AS DOUBLE) /
           |        (sqrt(CAST(list_sum(list_transform(a.v, x -> x*x)) AS DOUBLE)) * sqrt(CAST(list_sum(list_transform(b.v, x -> x*x)) AS DOUBLE))) AS cos_sim
           |       FROM cand JOIN q a ON a.vec_id = vec_a JOIN q b ON b.vec_id = vec_b)
           |SELECT vec_a, vec_b, cos_sim FROM sc WHERE cos_sim >= 0.35 ORDER BY vec_a, vec_b""".stripMargin,
      // IVF ANN: same cell count (ceil(sqrt(count(*))) — IEEE sqrt is
      // exactly rounded, so the double matches the JVM's bitwise), same
      // md5-ranked centroid sample, argmax assignment via row_number (the
      // Spark side's max(struct(score,-cid)) picks the identical winner);
      // cell RANKING uses dot/sqrt(‖c‖²) — the per-vector cosine order with
      // ‖v‖ factored out, computed with the same op order both engines
      "q_ivf_ann" ->
        s"""WITH $qVec,
           |cn AS (SELECT CAST(ceil(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS c FROM embeddings),
           |h AS (SELECT vec_id, v, CAST('0x'||substring(md5(CAST(vec_id AS VARCHAR)),1,15) AS BIGINT) AS hh FROM q),
           |cent AS (SELECT cid, cv, sqrt(CAST(list_sum(list_transform(cv, x -> x*x)) AS DOUBLE)) AS cnorm
           |         FROM (SELECT row_number() OVER (ORDER BY hh, vec_id) AS cid, v AS cv FROM h), cn WHERE cid <= cn.c),
           |sc0 AS (SELECT q.vec_id, cent.cid,
           |        CAST(list_sum(list_transform(range(1,65), i -> q.v[i]*cent.cv[i])) AS DOUBLE) / cent.cnorm AS cs
           |        FROM q, cent),
           |cell AS (SELECT vec_id, cid FROM (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rk FROM sc0) WHERE rk = 1),
           |pc AS (SELECT probe_id, cid FROM (SELECT vec_id AS probe_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rk FROM sc0 WHERE vec_id < 5) WHERE rk <= 2),
           |cand AS (SELECT pc.probe_id, cell.vec_id FROM pc JOIN cell ON cell.cid = pc.cid WHERE cell.vec_id <> pc.probe_id),
           |rr AS (SELECT cand.probe_id, cand.vec_id,
           |        CAST(list_sum(list_transform(range(1,65), i -> a.v[i]*b.v[i])) AS DOUBLE) /
           |        (sqrt(CAST(list_sum(list_transform(a.v, x -> x*x)) AS DOUBLE)) * sqrt(CAST(list_sum(list_transform(b.v, x -> x*x)) AS DOUBLE))) AS cos_sim
           |       FROM cand JOIN q a ON a.vec_id = cand.probe_id JOIN q b ON b.vec_id = cand.vec_id),
           |r AS (SELECT probe_id, vec_id, cos_sim, row_number() OVER (PARTITION BY probe_id ORDER BY cos_sim DESC, vec_id) AS rk FROM rr)
           |SELECT probe_id, vec_id, CAST(rk AS BIGINT) AS rnk, cos_sim FROM r WHERE rk <= 10 ORDER BY probe_id, rnk""".stripMargin,
      "q_mips_signalsh" ->
        s"""WITH nb AS (SELECT least(12, greatest(4, (SELECT min(CAST(b AS INTEGER)) FROM range(0,40) r(b)
           |             WHERE (CAST(32 AS BIGINT) << CAST(b AS INTEGER)) >= (SELECT count(*) FROM embeddings)))) AS bits),
           |pl AS (SELECT p,
           |      list_transform(range(0,64), i -> ${rad("mips", "p", "i")}) AS s,
           |      ${rad("mips", "p", "'64'")} AS sa,
           |      ${rad("mips", "p", "'65'")} AS sb,
           |      ${rad("mips", "p", "'66'")} AS sc
           |    FROM range(0,16) r(p)),
           |$qVec,
           |qn AS (SELECT vec_id, v, CAST(list_sum(list_transform(v, x -> x*x)) AS BIGINT) AS nv FROM q),
           |m2 AS (SELECT max(nv) AS m2 FROM qn),
           |b0 AS (SELECT vec_id, v, nv, CAST(nv AS DOUBLE)/CAST(m2.m2 AS DOUBLE) AS n2, sqrt(CAST(m2.m2 AS DOUBLE)) AS sm2 FROM qn, m2),
           |b1 AS (SELECT vec_id, v, nv, n2, sm2, n2*n2 AS n2sq FROM b0),
           |idx AS (SELECT b1.vec_id, CAST(sum(CASE WHEN
           |          CAST(list_sum(list_transform(range(1,65), i -> pl.s[i]*b1.v[i])) AS DOUBLE)/sm2
           |          + pl.sa*(0.5 - n2) + pl.sb*(0.5 - n2sq) + pl.sc*(0.5 - n2sq*n2sq) >= 0
           |          THEN (CAST(1 AS BIGINT) << CAST(p AS INTEGER)) ELSE 0 END) AS BIGINT) AS bits
           |       FROM b1, pl GROUP BY b1.vec_id),
           |qry AS (SELECT b1.vec_id AS probe_id, CAST(sum(CASE WHEN
           |          CAST(list_sum(list_transform(range(1,65), i -> pl.s[i]*b1.v[i])) AS DOUBLE)/sqrt(CAST(nv AS DOUBLE)) >= 0
           |          THEN (CAST(1 AS BIGINT) << CAST(p AS INTEGER)) ELSE 0 END) AS BIGINT) AS qbits
           |        FROM b1, pl WHERE b1.vec_id < 5 GROUP BY b1.vec_id),
           |sc2 AS (SELECT probe_id, i.vec_id, CAST(bit_count(xor(x.qbits, i.bits)) AS BIGINT) AS hamming
           |        FROM qry x, nb, idx i
           |        WHERE (x.qbits & ((CAST(1 AS BIGINT) << nb.bits) - 1)) = (i.bits & ((CAST(1 AS BIGINT) << nb.bits) - 1))
           |          AND i.vec_id <> x.probe_id),
           |r AS (SELECT probe_id, vec_id, hamming, row_number() OVER (PARTITION BY probe_id ORDER BY hamming, vec_id) AS rk FROM sc2)
           |SELECT probe_id, vec_id, CAST(rk AS BIGINT) AS rnk, hamming FROM r WHERE rk <= 10 ORDER BY probe_id, rnk""".stripMargin,
      "q_lp_bucket" ->
        s"""WITH g AS (SELECT j,
           |    list_transform(range(0,64), i -> list_sum(list_transform(range(0,12), t ->
           |      ${h15("'lp:'||j||':'||i||':'||t")} % 2001)) - 12000) AS c,
           |    ${h15("'lpshift:'||j")} % 2000000 AS b
           |  FROM range(0,4) r(j)),
           |$qVec
           |SELECT vec_id, j AS lane,
           |  CAST(floor(CAST(list_sum(list_transform(range(1,65), i -> g.c[i]*q.v[i])) + g.b AS DOUBLE)/2000000.0) AS BIGINT) AS lp_bucket
           |FROM q, g ORDER BY vec_id, lane""".stripMargin,
      "q1_agg" ->
        """SELECT l_returnflag, l_linestatus,
          |  sum(l_quantity) AS sum_qty,
          |  round(sum(l_extendedprice), 2) AS sum_base,
          |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc,
          |  sum(l_quantity) / CAST(count(*) AS DOUBLE) AS avg_qty,
          |  count(*) AS n
          |FROM lineitem GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
      "q_join_agg" ->
        """SELECT c_mktsegment,
          |  count(DISTINCT o_orderkey) AS n_orders,
          |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey
          |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
      "q_window_topn" ->
        """SELECT o_custkey, o_orderkey, o_totalprice FROM (
          |  SELECT o_custkey, o_orderkey, o_totalprice,
          |         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
          |  FROM orders) WHERE rn = 1 ORDER BY o_custkey""".stripMargin,
      "q_events_daily" ->
        """SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, count(*) AS n, round(sum(value), 2) AS sum_value
          |FROM events GROUP BY 1, 2 ORDER BY event_type, day""".stripMargin,
      "q_multimodal_meta" ->
        """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
          |  substring(hex(encode(text)), 1, 8) AS magic
          |FROM documents ORDER BY doc_id""".stripMargin,
      "q_media_headers" ->
        // expected header fields recomputed DIRECTLY from the synthesis
        // spec (SyntheticMedia scaladoc) — Spark's output comes from
        // encode→parse over actual bytes, so parity proves the decode
        """SELECT doc_id,
          |  CASE WHEN doc_id % 7 = 0 THEN 'unknown'
          |       WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'wav' END AS format,
          |  CAST(CASE WHEN doc_id % 7 <> 0 AND doc_id % 2 = 0
          |       THEN (coalesce(length(text), 0) % 3000) + 1 ELSE 0 END AS BIGINT) AS width,
          |  CAST(CASE WHEN doc_id % 7 <> 0 AND doc_id % 2 = 0
          |       THEN CASE WHEN doc_id % 3 = 0 THEN -((doc_id % 2000) + 1)
          |                 ELSE (doc_id % 100000) + 1 END
          |       ELSE 0 END AS BIGINT) AS height,
          |  CAST(CASE WHEN doc_id % 7 <> 0 AND doc_id % 2 = 1
          |       THEN (doc_id % 8) + 1 ELSE 0 END AS BIGINT) AS channels,
          |  CAST(CASE WHEN doc_id % 7 <> 0 AND doc_id % 2 = 1
          |       THEN 8000 + (doc_id % 6) * 8000 ELSE 0 END AS BIGINT) AS sample_rate,
          |  CAST(CASE WHEN doc_id % 7 <> 0 AND doc_id % 2 = 1
          |       THEN CASE doc_id % 4 WHEN 0 THEN 8 WHEN 1 THEN 16
          |                            WHEN 2 THEN 24 ELSE 32 END
          |       ELSE 0 END AS BIGINT) AS bits_per_sample
          |FROM documents ORDER BY doc_id""".stripMargin,
      // expected channel-0 samples recomputed from the SyntheticMedia
      // integer spec: raw v = (doc_id·131 + f·17) mod 2^bits for frames
      // f ∈ {0,4,8,…} < (doc_id%40)+5; decoded = v−128 at 8 bits
      // (unsigned+bias), else two's-complement (v−2^bits when the sign bit
      // is set). range() takes only literal args in DuckDB (memory note),
      // so the frame list is the literal range(0,45,4) filtered by nf.
      "q_wav_frames" ->
        """WITH f AS (
          |  SELECT doc_id,
          |         CAST((doc_id % 40) + 5 AS BIGINT) AS nf,
          |         CAST(CASE doc_id % 4 WHEN 0 THEN 8 WHEN 1 THEN 16
          |                              WHEN 2 THEN 24 ELSE 32 END AS BIGINT) AS bits
          |  FROM documents WHERE doc_id % 7 <> 0 AND doc_id % 2 = 1
          |), e AS (
          |  SELECT doc_id, bits,
          |         CAST(UNNEST(list_filter(range(0, 45, 4), x -> x < nf)) AS BIGINT) AS frame_idx
          |  FROM f
          |), v AS (
          |  SELECT doc_id, frame_idx, bits,
          |         (doc_id * 131 + frame_idx * 17) %
          |           (CASE bits WHEN 8 THEN 256 WHEN 16 THEN 65536
          |                      WHEN 24 THEN 16777216 ELSE 4294967296 END) AS raw,
          |         CASE bits WHEN 8 THEN 128 WHEN 16 THEN 32768
          |                   WHEN 24 THEN 8388608 ELSE 2147483648 END AS half
          |  FROM e
          |)
          |SELECT doc_id, frame_idx,
          |  CAST(CASE WHEN bits = 8 THEN raw - 128
          |            WHEN raw >= half THEN raw - 2 * half
          |            ELSE raw END AS BIGINT) AS sample
          |FROM v ORDER BY doc_id, frame_idx""".stripMargin
    )
  }
}
