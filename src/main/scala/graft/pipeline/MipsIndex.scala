package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.TableIO

/** Checkpointed SignALSH MIPS index — the persisted form of the hash-table
  * relation [[SignAlshRetrieval.corpusBits]] builds (O(n·T) packed longs;
  * at planFor(10⁹)'s 143 tables that projection is the index, and
  * recomputing it per query re-pays the full P-transform hashing pass).
  * Same store contract as [[IvfIndex]]: TableIO manifest stages with
  * chained config hashes — build-once/query-many, resume recomputes
  * nothing, a banding-plan change invalidates only the bits stage (the
  * quantized vectors stay valid), a partial or mixed-generation store
  * fails fast. Queries hash ONLY their probe rows (the Q-transform needs
  * no maxnorm, so probe bits computed against the store are bitwise the
  * ones the build-time path computes — pinned by MipsIndexSpec equality).
  *
  * The bits manifest records the corpus maxnorm M2 next to the plan tags:
  * the P-transform's norm terms are functions of ‖v‖²/M2, so [[append]]
  * hashes new vectors under the FROZEN base M2 (bitwise what a build-time
  * pass over them would have produced) and rejects a vector whose norm
  * exceeds it — the reference's maxnorm contract (sign_alsh.jl:95-105)
  * surfaced as a store-level invariant.
  */
object MipsIndex {
  import SignAlshRetrieval.MipsPlan

  final case class BuildReport(
      stages: Seq[CheckpointedDedup.StageResult], vectors: Long, plan: MipsPlan) {
    def recomputedStages: Seq[String] = stages.filter(_.recomputed).map(_.name)
  }

  private def planSalt(p: MipsPlan): String =
    s"${p.tables}:${p.planesPerTable}:${p.bucketBits}"

  /** The store protocol: `bits` (the second stage, recomputed per append)
    * chains off `vectors` under the banding plan, read back from the bits
    * manifest's plan tags. Its `m2` tag is not part of the chain: only
    * [[append]] needs it. */
  private val Store = new VectorStore[MipsPlan]("MIPS", "mips",
    Seq("bits" -> planSalt _),
    tag => MipsPlan(tag("tables").toInt, tag("planesPerTable").toInt, tag("bucketBits").toInt))

  /** Build (or resume) the index store at baseDir from a
    * (vec_id, embedding: array<float>) relation. The banding plan defaults
    * to [[SignAlshRetrieval.planFor]] over the corpus row count (taken from
    * the vectors-stage manifest — no extra job). */
  def build(
      spark: SparkSession, emb: DataFrame, baseDir: String,
      plan: Option[MipsPlan] = None): BuildReport = {
    graft.functions.GraftExpressions.register(spark)
    val runner = new StageRunner(spark, baseDir)
    val h0 = Store.vectorsHash(emb)
    val vectorsStage = runner.stage("vectors", h0) { IvfIndex.quantized(emb) }
    val nVecs = TableIO.readManifest(s"$baseDir/vectors").map(_.rows).getOrElse(0L)
    val p = plan.getOrElse(SignAlshRetrieval.planFor(nVecs))
    // maxnorm M2 computed ONCE driver-side (one narrow agg over the
    // quantized vectors) so the manifest can carry it for [[append]]; the
    // in-plan-broadcast form (SignAlshRetrieval.corpusBits) computes the
    // same max — bitwise-equal bits either way (MipsIndexSpec pins the
    // store ≡ in-memory equality)
    lazy val m2 = vectorsStage.df
      .agg(coalesce(max(call_function("graft_dot", col("v"), col("v"))), lit(0L)))
      .first().getLong(0)
    // LEGACY UPGRADE: a store built before the m2 tag resumes here (the
    // bits hash doesn't cover manifest extras), so "re-run build" would be
    // a no-op and append would fail forever with the rebuild hint (round-6
    // review). Detect the m2-less manifest and force the stage to
    // recompute — manifest deleted FIRST, the crash-safe rewrite protocol.
    val bitsDir = s"$baseDir/bits"
    val bitsHash = Store.chain(h0, p).last._2
    if (TableIO.isComplete(bitsDir, bitsHash) &&
        !TableIO.readManifest(bitsDir).exists(_.extra.contains("m2"))) {
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(bitsDir, "_manifest.json"))
    }
    runner.stage("bits", bitsHash, Map(
      "tables" -> p.tables.toString,
      "planesPerTable" -> p.planesPerTable.toString,
      "bucketBits" -> p.bucketBits.toString,
      "m2" -> m2.toString)) {
      SignAlshRetrieval.corpusBitsWithM2(vectorsStage.df, p, m2)
    }
    runner.writeBasicMetrics()
    BuildReport(runner.stages.toSeq, nVecs, p)
  }

  /** Append new (vec_id, embedding) rows to a completed store WITHOUT
    * re-hashing the stored corpus (the IvfIndex.append posture): the plan
    * AND the maxnorm M2 are frozen from the base bits manifest, new rows
    * are id-anti-joined against the stored ids (re-deliveries dropped),
    * only the genuinely-new rows pay quantization + the O(new·T·P)
    * P-transform, and the result commits as an `inc-k/{vectors,bits}`
    * snapshot ([[VectorStore.append]]).
    *
    * A new vector with ‖v‖² > the frozen M2 fails fast: under SignALSH the
    * norm terms require ‖v‖ ≤ maxnorm, and silently hashing it under the
    * base M2 would index it with out-of-contract bits (missed matches) —
    * rebuild the store when the corpus outgrows its maxnorm. */
  def append(spark: SparkSession, newEmb: DataFrame, baseDir: String): VectorStore.AppendReport =
    Store.append(spark, newEmb, baseDir) { s =>
      val m2 = s.tags.get("m2").map(_.toLong).getOrElse(throw new IllegalStateException(
        s"MIPS store at $baseDir predates the append feature (bits manifest " +
          s"lacks the m2 tag) — re-run MipsIndex.build once to enable appends " +
          s"(build detects the legacy manifest and refreshes the bits stage)"))
      VectorStore.Second(newVecs => SignAlshRetrieval.corpusBitsWithM2(newVecs, s.cfg, m2),
        // maxnorm check FUSED into the append's count agg (one job)
        stat = Some(coalesce(max(call_function("graft_dot", col("v"), col("v"))), lit(0L))),
        check = mx => require(mx <= m2,
          s"MIPS store at $baseDir: an appended vector has ‖v‖² = $mx > the " +
            s"store's frozen maxnorm M2 = $m2 — SignALSH bits for it would be " +
            s"out of contract; rebuild the store (MipsIndex.build) to re-fit " +
            s"the maxnorm"))
    }

  /** Top-k MIPS for every stored vector whose id is in the (vec_id)
    * relation `probeIds` — from the checkpoints alone: the corpus (base AND
    * appends) is never re-hashed; only the probe rows
    * ([[VectorStore.probeVectors]]) pay the Q-transform. The plan is the
    * store's (a pre-append-era store without the m2 tag still queries). */
  def topKWithHandle(
      spark: SparkSession, baseDir: String, probeIds: DataFrame,
      k: Int = 10): (DataFrame, Seq[DataFrame]) = {
    val (s, vectors, bits) = Store.open(spark, baseDir)
    val corpus = bits.cache() // bucket join + rerank
    val probes = SignAlshRetrieval.probeBits(
      VectorStore.probeVectors(vectors, probeIds), s.cfg, lit(true))
    val (out, pinned) = SignAlshRetrieval.bucketRank(corpus, probes, s.cfg, k)
    (out, corpus +: pinned)
  }
}
