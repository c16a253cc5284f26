package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path}
import java.util.Comparator
import graft.pipeline.{CheckpointedDedup, DedupConfig}
import graft.sources.TableIO
import graft.testkit.PagesGen

/** Resume-from-checkpoint semantics (FIXTURES.md §4): identical outputs after
  * partial re-run; config tampering invalidates downstream stages only. */
class CheckpointedDedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val cfg = DedupConfig(seed = 42L)
  private val Stages = Seq("docs", "shingles", "signatures", "bands", "census",
    "candidates", "verified_pairs", "clusters")

  private def freshDir(): String = {
    val p = Files.createTempDirectory("graft-ckpt")
    p.toString
  }

  private def rmrf(dir: String): Unit = {
    val p = Path.of(dir)
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
  }

  private def collectClusters(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("an EMPTY corpus runs to completion with zero pairs/clusters, not an NPE") {
    // supported input (the docs-stage fingerprint coalesces for it): the
    // census skew-stats agg over a zero-row census returns NULL sum/max and
    // the old bare getLong NPE'd mid-run, leaving a half-written store
    // (round-6 review)
    import spark.implicits._
    val dir = freshDir()
    try {
      val empty = Seq.empty[(String, String)].toDF("url", "text")
      val rep = CheckpointedDedup.run(spark, empty, cfg, dir)
      assert(rep.docs == 0L)
      assert(rep.verifiedPairs.count() == 0L)
      assert(rep.clusters.count() == 0L)
      // every stage committed (manifest present) — a resume finds a
      // complete store, not a crash scar
      Stages.foreach { s =>
        assert(TableIO.readManifest(s"$dir/$s").isDefined, s"stage $s missing")
      }
    } finally rmrf(dir)
  }

  test("full run, then resume recomputes nothing and returns identical tables") {
    val base = freshDir()
    val pages = PagesGen.pages(spark, 120, 0L, 4)
    val first = CheckpointedDedup.run(spark, pages, cfg, base)
    assert(first.recomputedStages == Stages)
    val c1 = collectClusters(first.clusters)

    val second = CheckpointedDedup.run(spark, pages, cfg, base)
    assert(second.recomputedStages.isEmpty, s"recomputed: ${second.recomputedStages}")
    assert(collectClusters(second.clusters) == c1)
    rmrf(base)
  }

  test("deleting a downstream stage recomputes it (and only it) with identical output") {
    val pages = PagesGen.pages(spark, 120, 0L, 4)
    // the default config, and one whose 3-doc dup clusters are over the cap
    // (salted pairs; a resumed census hands its skew stats on from its
    // manifest)
    for (c <- Seq(cfg, cfg.copy(maxBucket = 2, saltWindow = 4))) {
      val base = freshDir()
      val first = CheckpointedDedup.run(spark, pages, c, base)
      val c1 = collectClusters(first.clusters)
      val pairs1 = first.verifiedPairs.collect().map(_.toSeq).toSet
      assert(pairs1.nonEmpty)
      if (c.maxBucket == 2)
        assert(TableIO.readManifest(s"$base/census").get.extra("cappedBuckets").toLong > 0)

      // every stage in turn, as a crash before its commit leaves it: no
      // manifest over its data. The re-run resumes every other stage.
      for (stage <- Stages) {
        Files.delete(Path.of(s"$base/$stage/_manifest.json"))
        val again = CheckpointedDedup.run(spark, pages, c, base)
        assert(again.recomputedStages == Seq(stage), s"after deleting $stage ($c)")
        assert(collectClusters(again.clusters) == c1, s"clusters after recomputing $stage ($c)")
        assert(again.verifiedPairs.collect().map(_.toSeq).toSet == pairs1,
          s"verified pairs after recomputing $stage ($c)")
      }
      rmrf(base)
    }
  }

  test("config change invalidates the chain from the affected stage on") {
    val base = freshDir()
    val pages = PagesGen.pages(spark, 80, 0L, 4)
    CheckpointedDedup.run(spark, pages, cfg, base)
    // threshold only enters at verified_pairs → upstream stays checkpointed
    val second = CheckpointedDedup.run(spark, pages, cfg.copy(threshold = 0.6), base)
    assert(second.recomputedStages == Seq("verified_pairs", "clusters"))
    // saltWindow gates salted hot-pair generation inside candidates → its
    // change must invalidate candidates onward (ADVICE round 1)
    val third = CheckpointedDedup.run(spark, pages, cfg.copy(threshold = 0.6, saltWindow = 3), base)
    assert(third.recomputedStages == Seq("candidates", "verified_pairs", "clusters"))
    rmrf(base)
  }

  test("different input against the same baseDir invalidates every stage") {
    val base = freshDir()
    CheckpointedDedup.run(spark, PagesGen.pages(spark, 80, 0L, 4), cfg, base)
    // same row count, different content (seed) — the input fingerprint in
    // the docs-stage hash must force a full recompute, not a stale resume
    val second = CheckpointedDedup.run(spark, PagesGen.pages(spark, 80, 1L, 4), cfg, base)
    assert(second.recomputedStages == Stages)
    rmrf(base)
  }

  test("manifests carry lineage, rows, and skew disclosure") {
    val base = freshDir()
    val pages = PagesGen.pages(spark, 80, 0L, 4)
    CheckpointedDedup.run(spark, pages, cfg, base)
    val m = TableIO.readManifest(s"$base/shingles").get
    assert(m.rows == 80)
    assert(m.files.nonEmpty && m.files.map(_.rows).sum == 80)
    val cand = TableIO.readManifest(s"$base/candidates").get
    assert(cand.extra.contains("cappedBuckets") && cand.extra.contains("maxBucketSize"))
    // metrics table exists with one row per stage
    val metrics = spark.read.parquet(s"$base/metrics")
    assert(metrics.count() == 8)
    rmrf(base)
  }

  test("TableIO.rowCount: footer metadata equals a full count, manifest wins when present") {
    // plain parquet file (driver-generated testdata): footers only, no job
    val p = "/root/testdata/sf0.001/embeddings.parquet"
    assert(TableIO.rowCount(spark, p) == spark.read.parquet(p).count())
    // manifest-tracked stage dir: the recorded row count is used
    val base = freshDir()
    import spark.implicits._
    TableIO.write(Seq((1L, "a"), (2L, "b")).toDF("id", "text"), s"$base/t", "t", "h", 0L)
    assert(TableIO.rowCount(spark, s"$base/t") == 2L)
    // and a bare parquet directory (the stage's data dir) sums per-file footers
    assert(TableIO.rowCount(spark, s"$base/t/data") == 2L)
    // a MANIFEST-LESS stage dir (the documented crash window between
    // manifest delete and re-write) falls through to data/ instead of
    // silently reporting 0 — n=0 would feed count-derived planning
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$base/t/_manifest.json"))
    assert(TableIO.rowCount(spark, s"$base/t") == 2L)
    // a dir with neither manifest nor parquet anywhere is an ERROR, not 0
    val empty = s"$base/nothing"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(empty))
    intercept[IllegalArgumentException] { TableIO.rowCount(spark, empty) }
    rmrf(base)
  }

  test("verify id-prune: sparse candidates verify against O(pairs) docs, not the corpus") {
    val base = freshDir()
    // PagesGen corpora are mostly singletons — candidate pairs are sparse
    // relative to the corpus, so the prune must engage
    val pages = PagesGen.pages(spark, 300, 0L, 4)
    val rep = CheckpointedDedup.run(spark, pages, cfg, base)
    val m = TableIO.readManifest(s"$base/verified_pairs").get
    assert(m.extra.get("verifyPruned").contains("true"))
    val nCand = TableIO.readManifest(s"$base/candidates").get.rows
    val prunedDocs = m.extra("verifyPrunedDocs").toLong
    // the verify join's doc input is bounded by the pair ids (≤ 2 per pair)
    // and strictly smaller than the corpus — O(pairs), not O(corpus)
    assert(prunedDocs <= 2 * nCand, s"prunedDocs=$prunedDocs nCand=$nCand")
    assert(prunedDocs < 300, s"prune did not engage: $prunedDocs docs scanned")
    rmrf(base)
  }

  test("hot-bucket corpus through the checkpointed pipeline: salted, disclosed, connected") {
    import spark.implicits._
    val base = freshDir()
    val hotText = (1 to 90).map(i => s"boiler$i word$i").mkString(" ")
    // 40 identical pages (every band bucket hot under cap 10) + 20 distinct
    val pages = ((0 until 40).map(i => (s"https://dup.example/p$i", hotText)) ++
      (100 until 120).map(i => (s"https://solo.example/p$i",
        (1 to 60).map(j => s"doc${i}w$j").mkString(" ")))).toDF("url", "text")
    val rep = CheckpointedDedup.run(spark, pages, cfg.copy(maxBucket = 10, saltWindow = 4), base)
    val cand = TableIO.readManifest(s"$base/candidates").get
    assert(cand.extra("cappedBuckets").toLong > 0, "skew not disclosed")
    // all 40 duplicates end in ONE cluster despite every bucket being capped
    val clusters = rep.clusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dupIds = rep.verifiedPairs.select("id_a").union(rep.verifiedPairs.select("id_b"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(dupIds.size == 40)
    assert(dupIds.map(clusters).size == 1, "hot duplicates fragmented across clusters")
    rmrf(base)
  }

  test("verified pairs carry a meaningful suffix-array LCS column") {
    val base = freshDir()
    val pages = PagesGen.pages(spark, 80, 0L, 4)
    val rep = CheckpointedDedup.run(spark, pages, cfg, base)
    val rows = rep.verifiedPairs.collect()
    assert(rows.nonEmpty)
    // near-duplicate pages must share a long exact substring
    rows.foreach { r =>
      val lcs = r.getInt(r.fieldIndex("lcs_len"))
      assert(lcs > 50, s"pair ${r.getLong(0)}-${r.getLong(1)} lcs=$lcs")
    }
    rmrf(base)
  }
}
