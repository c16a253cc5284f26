package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline.{CheckpointedDedup, DedupConfig, IncrementalDedup}
import graft.sources.TableIO
import graft.testkit.PagesGen

/** Incremental dedup must equal a from-scratch run over the union corpus —
  * with planted duplicate pairs CROSSING the base/increment split (the even
  * slots of each PagesGen cluster land in the base crawl, the odd slots in
  * the increment, so pairs (0,1), (0,2), (1,2) all straddle the boundary) —
  * while never rewriting or recomputing the base run's text-width stages. */
class IncrementalDedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val cfg = DedupConfig(seed = 42L)

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("increment ≡ from-scratch union run; base stages untouched") {
    val n = 240L
    val all = PagesGen.pages(spark, n, seed = 0L, partitions = 8)
    val base = all.where(col("id") % 2 === 0).drop("id")
    val inc = all.where(col("id") % 2 === 1).drop("id")

    val dirA = tmp("graft-inc-base")
    val dirB = tmp("graft-inc-full")
    CheckpointedDedup.run(spark, base, cfg, dirA)
    val manifestsBefore = Seq("docs", "shingles", "signatures")
      .map(s => s -> TableIO.readManifest(s"$dirA/$s").get.snapshotId).toMap

    val rep = IncrementalDedup.run(spark, inc, cfg, dirA)
    assert(rep.newDocs == n / 2)

    // base text-width stages were reused, not rewritten (append-only)
    manifestsBefore.foreach { case (s, snap) =>
      assert(TableIO.readManifest(s"$dirA/$s").get.snapshotId == snap,
        s"base stage '$s' was rewritten")
    }
    // the increment's text-width stages hold ONLY the new rows
    assert(TableIO.readManifest(s"${rep.incDir}/shingles").get.rows == n / 2)

    // from-scratch truth over the union
    val full = CheckpointedDedup.run(spark, all.drop("id"), cfg, dirB)

    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def clusters(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.select("id", "cluster_id").collect().map(r => (r.getLong(0), r.getLong(1))).toMap

    assert(pairs(rep.verifiedPairs) == pairs(full.verifiedPairs))
    assert(clusters(rep.clusters) == clusters(full.clusters))
    // and the crossing pairs really exist: every cluster in the union run
    // merges docs from BOTH crawls (slots 0,2 even / 1 odd per block)
    val byCluster = full.clusters.select("id", "cluster_id").collect()
      .map(r => (r.getLong(1), r.getLong(0))).groupBy(_._1).values
    assert(byCluster.exists(_.size >= 2), "no multi-doc clusters — fixture broken")
  }

  test("a base whose clusters stage is incomplete: the increment starts cold and still equals from-scratch") {
    val n = 160L
    val all = PagesGen.pages(spark, n, seed = 23L, partitions = 4)
    val dir = tmp("graft-inc-cold")
    CheckpointedDedup.run(spark, all.where(col("id") % 2 === 0).drop("id"), cfg, dir)
    // a crash while the base's clusters stage was being rewritten: manifest
    // deleted first, data already overwritten (here: every doc in one
    // cluster). Warm-starting from these labels would merge everything.
    val clustersDir = s"$dir/clusters"
    val bogus = TableIO.read(spark, clustersDir)
      .select(col("id"), min(col("id")).over().as("cluster_id"))
    bogus.write.parquet(s"$clustersDir/data-bogus")
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$clustersDir/_manifest.json"))
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(s"$clustersDir/data"))
      .iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)
    java.nio.file.Files.move(java.nio.file.Paths.get(s"$clustersDir/data-bogus"),
      java.nio.file.Paths.get(s"$clustersDir/data"))

    val rep = IncrementalDedup.run(spark, all.where(col("id") % 2 === 1).drop("id"), cfg, dir)
    val full = CheckpointedDedup.run(spark, all.drop("id"), cfg, tmp("graft-inc-cold-full"))
    def clusters(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.select("id", "cluster_id").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val want = clusters(full.clusters)
    assert(want.values.toSet.size > 1, "fixture has a single cluster — cannot tell")
    assert(clusters(rep.clusters) == want)
  }

  test("metrics_inc reads across schema generations (mergeSchema posture)") {
    // the round-5 rename forked the metrics_inc parquet schema mid-store
    // (verified_pairs → pairs_adjudicated + verified_pairs_total); a plain
    // read over a mixed dir silently drops whichever generation's columns
    // the sampled footer lacks. readMetricsInc must surface BOTH.
    val n = 80L
    val all = PagesGen.pages(spark, n, seed = 3L, partitions = 4)
    val dir = tmp("graft-inc-metrics")
    CheckpointedDedup.run(spark, all.where(col("id") % 2 === 0).drop("id"), cfg, dir)
    IncrementalDedup.run(spark, all.where(col("id") % 2 === 1).drop("id"), cfg, dir)
    // simulate a PRE-round-5 store generation: a row with only the legacy
    // column set (no pairs_adjudicated / verified_pairs_total)
    import spark.implicits._
    Seq(("inc-0-legacy", 11L, 7L, "1234", true))
      .toDF("stage", "new_docs", "verified_pairs", "salt", "recomputed")
      .write.mode("append").parquet(s"$dir/metrics_inc")
    val m = IncrementalDedup.readMetricsInc(spark, dir)
    val cols = m.columns.toSet
    assert(Set("pairs_adjudicated", "verified_pairs_total", "verified_pairs")
      .subsetOf(cols), s"merged schema missing columns: $cols")
    val rows = m.collect().map(r =>
      r.getAs[String]("stage") -> Option(r.getAs[Any]("pairs_adjudicated"))).toMap
    // legacy row readable with NULL new columns; current row carries both
    assert(rows("inc-0-legacy").isEmpty)
    assert(rows("inc-1").nonEmpty)
    // and the transition generation still writes the legacy column so a
    // round-4 reader over this store keeps seeing it
    val cur = m.where(col("stage") === "inc-1").collect().head
    assert(cur.getAs[Long]("verified_pairs") == cur.getAs[Long]("verified_pairs_total"))
  }

  test("readAll reconstructs the union; latest returns the newest pair tables") {
    val n = 120L
    val all = PagesGen.pages(spark, n, seed = 3L, partitions = 4)
    val dir = tmp("graft-inc-read")
    CheckpointedDedup.run(spark, all.where(col("id") < 60).drop("id"), cfg, dir)
    IncrementalDedup.run(spark, all.where(col("id") >= 60).drop("id"), cfg, dir)
    assert(IncrementalDedup.readAll(spark, dir, "docs").count() == n)
    assert(IncrementalDedup.readAll(spark, dir, "signatures").count() == n)
    // latest clusters cover every doc of the union
    assert(IncrementalDedup.latest(spark, dir, "clusters").count() == n)
  }

  test("second increment stacks on the first") {
    val n = 180L
    val all = PagesGen.pages(spark, n, seed = 7L, partitions = 4)
    val dir = tmp("graft-inc-stack")
    CheckpointedDedup.run(spark, all.where(col("id") % 3 === 0).drop("id"), cfg, dir)
    IncrementalDedup.run(spark, all.where(col("id") % 3 === 1).drop("id"), cfg, dir)
    val rep2 = IncrementalDedup.run(spark, all.where(col("id") % 3 === 2).drop("id"), cfg, dir)
    assert(rep2.incDir.endsWith("inc-2"))
    val dirFull = tmp("graft-inc-stack-full")
    val full = CheckpointedDedup.run(spark, all.drop("id"), cfg, dirFull)
    val got = rep2.clusters.select("id", "cluster_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val want = full.clusters.select("id", "cluster_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == want)
  }

  test("monotone pairs: a bucket crossing the census cap keeps its verified pairs") {
    import spark.implicits._
    // cap 4, no salting: 3 identical base docs fill every band bucket to
    // size 3 (in-cap) → 3 verified pairs. The increment adds 3 more copies
    // → bucket size 6 > cap → the gate drops the bucket, so the increment
    // contributes NO new pairs; but the base's verified pairs must survive
    // (verified knowledge is never un-learned), even though a from-scratch
    // run over the union would drop everything (its buckets are born
    // over-cap). This is the documented divergence — pinned here.
    val capCfg = DedupConfig(seed = 42L, maxBucket = 4, saltWindow = 0)
    val text = (1 to 30).map(i => s"boiler$i").mkString(" ")
    def crawl(ids: Range) = ids.map(i => (s"https://m.example/p$i", text)).toDF("url", "text")
    val dir = tmp("graft-inc-cap")
    val baseRep = CheckpointedDedup.run(spark, crawl(0 until 3), capCfg, dir)
    val basePairs = baseRep.verifiedPairs.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(basePairs.size == 3) // C(3,2) — in-cap at base

    val rep = IncrementalDedup.run(spark, crawl(3 until 6), capCfg, dir)
    val incPairs = rep.verifiedPairs.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(incPairs == basePairs, "cap crossing must not drop verified pairs, nor add any")

    // the from-scratch union run genuinely diverges (born over-cap → empty)
    val full = CheckpointedDedup.run(spark, crawl(0 until 6), capCfg, tmp("graft-inc-cap-full"))
    assert(full.verifiedPairs.count() == 0)
  }

  test("additive bands/census: delta-only storage, cumulative skew stats exact") {
    val n = 200L
    val all = PagesGen.pages(spark, n, seed = 31L, partitions = 4)
    val dir = tmp("graft-inc-additive")
    CheckpointedDedup.run(spark, all.where(col("id") < 150).drop("id"), cfg, dir)
    val rep = IncrementalDedup.run(spark, all.where(col("id") >= 150).drop("id"), cfg, dir)

    // the increment's band/census stages hold ONLY the delta
    val bandRows = TableIO.readManifest(s"${rep.incDir}/bands").get.rows
    assert(bandRows == 50L * cfg.bands, s"bands stage must be delta-only, got $bandRows")

    // cumulative skew stats carried in the delta-census manifest must equal
    // a full recompute over the union (the additive arithmetic is exact)
    val incCensusExtra = TableIO.readManifest(s"${rep.incDir}/census").get.extra
    val fullDir = tmp("graft-inc-additive-full")
    CheckpointedDedup.run(spark, all.drop("id"), cfg, fullDir)
    val fullExtra = TableIO.readManifest(s"$fullDir/census").get.extra
    assert(incCensusExtra("cappedBuckets") == fullExtra("cappedBuckets"))
    assert(incCensusExtra("maxBucketSize") == fullExtra("maxBucketSize"))

    // and the reconstructed union census (base + deltas, summed) equals the
    // from-scratch census bucket for bucket
    val unionCensus = IncrementalDedup.readAll(spark, dir, "census")
      .groupBy("band_hash").agg(org.apache.spark.sql.functions.sum("bucket_size").as("bucket_size"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val fullCensus = TableIO.read(spark, s"$fullDir/census")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(unionCensus == fullCensus)
  }

  test("hot-bucket increment: salted path runs from checkpoints, recall kept") {
    import spark.implicits._
    // cap 3 with salting ON: 8 identical docs in the base make every band
    // bucket hot from the start (8 > 3), so BOTH the base and the increment
    // exercise the salted path; the increment must keep the duplicate group
    // connected using only checkpointed bands/census/signatures.
    val hotCfg = DedupConfig(seed = 42L, maxBucket = 3, saltWindow = 4)
    val text = (1 to 40).map(i => s"boil$i").mkString(" ")
    def crawl(ids: Range) = ids.map(i => (s"https://h.example/p$i", text)).toDF("url", "text")
    val dir = tmp("graft-inc-hot")
    CheckpointedDedup.run(spark, crawl(0 until 8), hotCfg, dir)
    assert(TableIO.readManifest(s"$dir/census").get.extra("cappedBuckets").toLong > 0)
    val rep = IncrementalDedup.run(spark, crawl(8 until 12), hotCfg, dir)
    // monotone contract: increment pairs ⊇ a from-scratch union run's pairs
    val fromScratch = CheckpointedDedup.run(
      spark, crawl(0 until 12), hotCfg, tmp("graft-inc-hot-full"))
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet(fromScratch.verifiedPairs).subsetOf(pairSet(rep.verifiedPairs)))
    // every doc (old and new) lands in ONE cluster — the salted chains over
    // the union keep the group connected across the base/increment split
    val clusterIds = rep.clusters.select("cluster_id").distinct().collect()
    assert(clusterIds.length == 1, s"expected one cluster, got ${clusterIds.length}")
    assert(rep.clusters.count() == 12)
  }

  test("hot store: increments that do not touch a hot bucket skip the salted recompute, pairs preserved") {
    import spark.implicits._
    // base: 8 identical docs → every band bucket hot (8 > 3), salted pairs
    // in the base candidates checkpoint. The increment adds 2 identical
    // docs of DISJOINT vocabulary — it touches no hot bucket, so the
    // salted sub-plan must not re-run (review r5: the old cappedCum>0 gate
    // re-ran it over the union on every increment over a hot store) while
    // the hot group's pairs carry over from the checkpoint unchanged.
    val hotCfg = DedupConfig(seed = 42L, maxBucket = 3, saltWindow = 4)
    val hotText = (1 to 40).map(i => s"hotw$i").mkString(" ")
    val coldText = (1 to 40).map(i => s"coldw$i").mkString(" ")
    val dir = tmp("graft-inc-hot-untouched")
    val baseRep = CheckpointedDedup.run(spark,
      (0 until 8).map(i => (s"https://u.example/h$i", hotText)).toDF("url", "text"),
      hotCfg, dir)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val basePairs = pairSet(baseRep.verifiedPairs)
    assert(basePairs.nonEmpty)

    val rep1 = IncrementalDedup.run(spark,
      (0 until 2).map(i => (s"https://u.example/c$i", coldText)).toDF("url", "text"),
      hotCfg, dir)
    val incPairs = pairSet(rep1.verifiedPairs)
    assert(basePairs.subsetOf(incPairs), "untouched hot-bucket pairs must carry over")
    assert(incPairs.size == basePairs.size + 1, "the cold in-cap pair must be found")
    assert(rep1.pairsVerified == 1L, "only the new cold pair needed adjudication")

    // zero-new-docs re-crawl over the SAME hot store: everything —
    // including the salted branch — short-circuits; clusters unchanged
    val rep2 = IncrementalDedup.run(spark,
      (0 until 8).map(i => (s"https://u.example/h$i", hotText)).toDF("url", "text"),
      hotCfg, dir)
    assert(rep2.newDocs == 0L && rep2.pairsVerified == 0L)
    val c1 = rep1.clusters.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val c2 = rep2.clusters.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(c1 == c2)
  }

  test("an all-recrawl increment (zero new docs) commits cleanly and changes nothing") {
    val n = 80L
    val all = PagesGen.pages(spark, n, seed = 37L, partitions = 4)
    val dir = tmp("graft-inc-zero")
    val baseRep = CheckpointedDedup.run(spark, all.drop("id"), cfg, dir)
    val baseClusters = baseRep.clusters.select("id", "cluster_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // the increment is ENTIRELY re-crawled urls → zero fresh docs: the
    // bands/census stages are written (empty delta / committed manifests),
    // the skew stats carry over unchanged, no pair work runs
    val rep = IncrementalDedup.run(spark, all.limit(20).drop("id"), cfg, dir)
    assert(rep.newDocs == 0L)
    assert(TableIO.readManifest(s"${rep.incDir}/bands").get.rows == 0L)
    val baseExtra = TableIO.readManifest(s"$dir/census").get.extra
    val incExtra = TableIO.readManifest(s"${rep.incDir}/census").get.extra
    assert(incExtra("cappedBuckets") == baseExtra("cappedBuckets"))
    assert(incExtra("maxBucketSize") == baseExtra("maxBucketSize"))
    val got = rep.clusters.select("id", "cluster_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == baseClusters)
    // and a later REAL increment still stacks on top of the empty one
    val more = PagesGen.pages(spark, 120L, seed = 37L, partitions = 4)
      .where(col("id") >= 80).drop("id")
    val rep2 = IncrementalDedup.run(spark, more, cfg, dir)
    assert(rep2.incDir.endsWith("inc-2") && rep2.newDocs == 40L)
    assert(IncrementalDedup.readAll(spark, dir, "docs").count() == 120L)
  }

  test("an increment with no near-duplicate reads no prior band row and keeps the prior's pairs") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    import java.nio.file.{Files, Paths}
    val all = PagesGen.pages(spark, 80L, seed = 47L, partitions = 4)
    val dir = tmp("graft-inc-nodup")
    CheckpointedDedup.run(spark, all.drop("id"), cfg, dir)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    val baseCandidates = rows(TableIO.read(spark, s"$dir/candidates"))
    val baseVerified = rows(TableIO.read(spark, s"$dir/verified_pairs"))
    // the stored band rows are gone (their manifest stays): any step that
    // reads them fails the increment
    val walk = Files.walk(Paths.get(s"$dir/bands/data"))
    try walk.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally walk.close()
    // every word unique to its page: no new page shares a bucket with any
    // other page, so the in-cap gate is empty and no hot bucket is touched
    val fresh = (0 until 20).map(i =>
      (s"https://nodup.example/p$i", (0 until 60).map(j => s"nd${i}w$j").mkString(" ")))
      .toDF("url", "text")
    val rep = IncrementalDedup.run(spark, fresh, cfg, dir)
    assert(rep.newDocs == 20L && rep.pairsVerified == 0L)
    assert(rows(TableIO.read(spark, s"${rep.incDir}/candidates")) == baseCandidates)
    assert(rows(rep.verifiedPairs) == baseVerified)
    assert(rep.clusters.count() == 100L)
  }

  test("a PARTIAL increment (missing stage manifest) fails fast, naming the dir") {
    val all = PagesGen.pages(spark, 80L, seed = 13L, partitions = 4)
    val dir = tmp("graft-inc-partial")
    CheckpointedDedup.run(spark, all.where(col("id") < 40).drop("id"), cfg, dir)
    IncrementalDedup.run(spark, all.where(col("id") >= 40).drop("id"), cfg, dir)
    // simulate a crash between the signatures parquet write and its manifest
    val m = java.nio.file.Paths.get(s"$dir/inc-1/signatures/_manifest.json")
    java.nio.file.Files.delete(m)
    val e = intercept[IllegalArgumentException] {
      IncrementalDedup.readAll(spark, dir, "docs").count()
    }
    assert(e.getMessage.contains("inc-1") && e.getMessage.contains("signatures"))
    val e2 = intercept[IllegalArgumentException] {
      IncrementalDedup.run(spark, all.limit(1).drop("id"), cfg, dir)
    }
    assert(e2.getMessage.contains("PARTIAL"))
  }

  test("an increment under a DIFFERENT config fails fast (no silent family mix)") {
    val all = PagesGen.pages(spark, 60L, seed = 17L, partitions = 4)
    val dir = tmp("graft-inc-cfgmix")
    CheckpointedDedup.run(spark, all.where(col("id") < 30).drop("id"), cfg, dir)
    val e = intercept[IllegalArgumentException] {
      IncrementalDedup.run(
        spark, all.where(col("id") >= 30).drop("id"), cfg.copy(seed = 43L), dir)
    }
    assert(e.getMessage.contains("DIFFERENT config"))
    // the matching config still runs fine afterwards
    val rep = IncrementalDedup.run(spark, all.where(col("id") >= 30).drop("id"), cfg, dir)
    assert(rep.newDocs == 30L)
  }

  test("stray inc-prefixed directories are ignored, not a NumberFormatException") {
    val all = PagesGen.pages(spark, 60L, seed = 19L, partitions = 4)
    val dir = tmp("graft-inc-stray")
    CheckpointedDedup.run(spark, all.where(col("id") < 30).drop("id"), cfg, dir)
    // a manual backup with an inc- prefix must not brick the base dir
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/inc-1.bak"))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/inc-notanum"))
    // 10+ digits matches the strict regex but overflows Int — must be
    // treated as a stray, not a NumberFormatException (round-6 review)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/inc-9999999999"))
    // inc-0 matches the regex too but the engine numbers from 1 — it must
    // be ignored, not trip the gap check with "inc-1 is missing" (ADVICE r7)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/inc-0"))
    // inc-02 parses to a VALID number — the canonical-form guard must
    // ignore it rather than let it duplicate/shadow a real inc-2 (r7 review)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/inc-02"))
    val rep = IncrementalDedup.run(spark, all.where(col("id") >= 30).drop("id"), cfg, dir)
    assert(rep.incDir.endsWith("inc-1"))
    assert(IncrementalDedup.readAll(spark, dir, "docs").count() == 60L)
  }

  test("a crashed increment's staging dir is warned about, not read; the retry equals an uninterrupted run") {
    import scala.jdk.CollectionConverters._
    import java.nio.file.{Files, Paths}
    def copyTree(from: String, to: String): Unit = {
      val src = Paths.get(from)
      val walk = Files.walk(src)
      try walk.iterator().asScala.foreach(p => Files.copy(p, Paths.get(to).resolve(src.relativize(p))))
      finally walk.close()
    }
    val all = PagesGen.pages(spark, 120L, seed = 41L, partitions = 4)
    val inc = all.where(col("id") >= 60).drop("id")
    val dir = s"${tmp("graft-inc-retry")}/store"
    val ref = s"${tmp("graft-inc-retry-ref")}/store"
    CheckpointedDedup.run(spark, all.where(col("id") < 60).drop("id"), cfg, dir)
    copyTree(dir, ref)

    // the crash: an increment of OTHER pages staged up to its census, then
    // died before its pair stages — left behind as a staging dir (made
    // here as a complete increment of a copy, with its last stages deleted)
    val other = PagesGen.pages(spark, 40L, seed = 43L, partitions = 4).drop("id")
    val scratch = s"${tmp("graft-inc-retry-crash")}/store"
    copyTree(dir, scratch)
    IncrementalDedup.run(spark, other, cfg, scratch)
    val stray = s"$dir/inc-1.tmp-crashed0"
    Files.move(Paths.get(s"$scratch/inc-1"), Paths.get(stray))
    for (s <- Seq("candidates", "verified_pairs", "clusters")) {
      val walk = Files.walk(Paths.get(s"$stray/$s"))
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally walk.close()
    }

    val err = new java.io.ByteArrayOutputStream()
    val stderr = System.err
    System.setErr(new java.io.PrintStream(err, true))
    val rep = try IncrementalDedup.run(spark, inc, cfg, dir) finally System.setErr(stderr)
    val want = IncrementalDedup.run(spark, inc, cfg, ref)

    assert(err.toString.contains("stale append staging dir") && err.toString.contains("inc-1.tmp-crashed0"),
      s"no warning about the stray: $err")
    assert(Files.exists(Paths.get(stray)), "the stray must be left for the operator")
    assert(rep.incDir.endsWith("inc-1") && rep.newDocs == 60L)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    for (s <- Seq("docs", "bands", "census", "candidates", "verified_pairs", "clusters"))
      assert(rows(TableIO.read(spark, s"$dir/inc-1/$s")) == rows(TableIO.read(spark, s"$ref/inc-1/$s")),
        s"inc-1/$s differs from the uninterrupted run")
    assert(IncrementalDedup.readAll(spark, dir, "docs").count() == 120L)
    assert(rep.pairsVerified == want.pairsVerified)
  }

  test("a deleted MIDDLE increment is a gap, not a silent doc drop") {
    val all = PagesGen.pages(spark, 90L, seed = 29L, partitions = 4)
    val dir = tmp("graft-inc-gap")
    CheckpointedDedup.run(spark, all.where(col("id") % 3 === 0).drop("id"), cfg, dir)
    IncrementalDedup.run(spark, all.where(col("id") % 3 === 1).drop("id"), cfg, dir)
    IncrementalDedup.run(spark, all.where(col("id") % 3 === 2).drop("id"), cfg, dir)
    // operator deletes the middle increment (e.g. following a stale runbook)
    val inc1 = java.nio.file.Paths.get(s"$dir/inc-1")
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(inc1).iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.delete)
    // every read AND the next run must fail fast naming the missing inc —
    // inc-1's docs would otherwise vanish from readAll while inc-2's
    // pair/cluster tables still reference their ids
    val e = intercept[IllegalArgumentException] {
      IncrementalDedup.readAll(spark, dir, "docs").count()
    }
    assert(e.getMessage.contains("GAP") && e.getMessage.contains("inc-1"))
    val e2 = intercept[IllegalArgumentException] {
      IncrementalDedup.run(spark, all.limit(1).drop("id"), cfg, dir)
    }
    assert(e2.getMessage.contains("inc-1"))
  }

  test("a crashed stage REWRITE cannot leave a stale valid-looking manifest") {
    import spark.implicits._
    val dir = tmp("graft-rewrite-crash")
    val ok = Seq((1L, "a")).toDF("id", "text")
    TableIO.write(ok, s"$dir/stage", "stage", "h1", 0L)
    assert(TableIO.readManifest(s"$dir/stage").isDefined)
    // a rewrite whose job fails mid-write (executor-side exception) must
    // NOT leave the OLD manifest presiding over partial/overwritten data
    val boom = org.apache.spark.sql.functions.udf((i: Long) =>
      if (i >= 0) throw new RuntimeException("boom") else i)
    val bad = Seq((2L, "b")).toDF("id", "text")
      .withColumn("id", boom(org.apache.spark.sql.functions.col("id")))
    intercept[Exception] {
      TableIO.write(bad, s"$dir/stage", "stage", "h2", 0L)
    }
    assert(TableIO.readManifest(s"$dir/stage").isEmpty,
      "stale manifest survived a crashed rewrite")
  }

  test("already-crawled urls in an increment are dropped, not re-ingested") {
    val n = 80L
    val all = PagesGen.pages(spark, n, seed = 11L, partitions = 4)
    val dir = tmp("graft-inc-recrawl")
    CheckpointedDedup.run(spark, all.where(col("id") < 40).drop("id"), cfg, dir)
    // increment contains 20 genuinely new pages + 40 re-crawls of the base
    val rep = IncrementalDedup.run(
      spark, all.where(col("id") >= 20).drop("id"), cfg, dir)
    assert(rep.newDocs == 40L) // ids 40..79 only
    assert(IncrementalDedup.readAll(spark, dir, "docs").count() == n)
  }
}
