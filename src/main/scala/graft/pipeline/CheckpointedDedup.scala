package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The full resumable pipeline over a `pages` table ([[DedupStages]]).
  * Every stage is checkpointed via [[TableIO]] (manifest + per-file lineage);
  * a re-run recomputes only stages whose manifest is missing or whose chained
  * config hash changed. A `metrics` table accumulates per-stage wall time,
  * row counts, and skew disclosures (capped buckets), satisfying the north
  * rule's "checkpoints per-stage with per-partition lineage and metrics for
  * resumability".
  */
object CheckpointedDedup {

  final case class RunReport(
      clusters: DataFrame,
      verifiedPairs: DataFrame,
      stages: Seq[StageResult],
      docs: Long) {
    def recomputedStages: Seq[String] = stages.filter(_.recomputed).map(_.name)
  }

  /** Run (or resume) the pipeline: [[DedupStages]] over an empty prior,
    * each stage resumed in place when its manifest carries its chained
    * config hash.
    *
    * @param pages DataFrame with at least (url STRING, text STRING); doc ids
    *              are derived as the seeded 64-bit hash of url (stable,
    *              partition-independent).
    * @param baseDir checkpoint root; stage tables live at baseDir/<stage>
    */
  def run(spark: SparkSession, pages: DataFrame, cfg: DedupConfig, baseDir: String): RunReport = {
    val runner = new StageRunner(spark, baseDir)
    // The docs stage folds an INPUT FINGERPRINT (row count +
    // order-independent xor of per-row xxhash64 over url and the FULL text —
    // one pass over data the stage scans anyway) into its hash: pointing the
    // same baseDir at different input must invalidate the whole chain, not
    // silently resume over a stale corpus. Hashing the full text (not a
    // prefix sample — ADVICE r2) means ANY re-crawled content change
    // invalidates, wherever in the page it lands. bit_xor over zero rows is
    // NULL → coalesce, so an empty input fingerprints cleanly instead of
    // NPEing.
    val h0 = StageRunner.chainHash("root", "docs",
      s"v3:${StageRunner.inputFingerprint(pages, "url", "text")}")
    val hashes = (("docs" -> h0) +: DedupStages.chainFrom(h0, cfg)).toMap
    val added = DedupStages.run(spark, runner, pages, cfg, hashes, Map.empty, prior = None)

    // metrics table: one row per stage per run (append = run history);
    // richer than StageRunner's basic set — also carries the manifest
    // extras (skew/verify disclosures) and a docs/sec rate
    import spark.implicits._
    runner.stages.toSeq.map { s =>
      val m = runner.manifest(s.name)
      (s.name, m.map(_.rows).getOrElse(-1L), s.millis, s.recomputed,
        m.map(_.extra.mkString(";")).getOrElse(""),
        if (s.millis > 0) added.docs * 1000.0 / s.millis else 0.0)
    }.toDF("stage", "rows", "millis", "recomputed", "extra", "docs_per_sec")
      .write.mode("append").parquet(s"$baseDir/metrics")

    val stages = runner.stages.toSeq
    RunReport(stages.last.df, stages.find(_.name == "verified_pairs").get.df, stages, added.docs)
  }
}
