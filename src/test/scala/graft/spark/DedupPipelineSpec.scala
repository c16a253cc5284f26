package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core.Similarities
import graft.functions.GraftFunctions
import graft.pipeline.{ConnectedComponents, Dedup, DedupConfig}
import graft.testkit.PagesGen

/** End-to-end pipeline correctness on the planted corpus (SURVEY.md §5,
  * FIXTURES.md §4): dup-pair recall ≥ 0.99 against EXACT Jaccard ground truth
  * at identical shingle/signature config, exact cluster assignments,
  * byte-identical text per url across runs. */
class DedupPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val nDocs = 400L
  val cfg = DedupConfig(shingleWords = 3, numHashes = 126, bands = 42, threshold = 0.5, seed = 42L)

  /** Exact ground truth: all pairs with word-trigram Jaccard ≥ threshold,
    * computed with the pure-Scala kernels (no LSH involved). */
  lazy val truthPairs: Set[(Long, Long)] = {
    val texts = (0L until nDocs).map(i => i -> PagesGen.textFor(0L, i)).toMap
    val shingles = texts.map { case (id, t) =>
      id -> GraftFunctions.shingleHashSet(GraftFunctions.wordNgrams(t, cfg.shingleWords), cfg.seed)
    }
    (for {
      a <- 0L until nDocs
      b <- (a + 1) until nDocs
      if Similarities.jaccardSorted(shingles(a), shingles(b)) >= cfg.threshold
    } yield (a, b)).toSet
  }

  lazy val foundPairs: Set[(Long, Long)] = {
    val corpus = PagesGen.corpus(spark, nDocs, seed = 0L, partitions = 8)
    Dedup.nearDupPairs(corpus, cfg)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
  }

  test("planted duplicates are present in the exact ground truth") {
    val planted = PagesGen.plantedPairs(nDocs).toSet
    assert(planted.subsetOf(truthPairs), s"missing: ${planted.diff(truthPairs).take(5)}")
    // singletons (slot 3) never duplicate anything
    assert(!truthPairs.exists { case (a, b) => a % 4 == 3 || b % 4 == 3 })
  }

  test("dup-pair recall ≥ 0.99 and perfect precision vs exact ground truth") {
    assert(truthPairs.nonEmpty)
    val recall = foundPairs.intersect(truthPairs).size.toDouble / truthPairs.size
    assert(recall >= 0.99, s"recall=$recall (${truthPairs.size} truth, ${foundPairs.size} found)")
    // verify stage uses exact Jaccard ⇒ no false positives, ever
    assert(foundPairs.subsetOf(truthPairs), s"false positives: ${foundPairs.diff(truthPairs).take(5)}")
  }

  test("cluster assignments equal union-find over the exact truth pairs") {
    // driver-side union-find oracle
    val parent = scala.collection.mutable.Map[Long, Long]((0L until nDocs).map(i => i -> i): _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    truthPairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = (0L until nDocs).map(i => i -> find(i)).toMap

    val got = Dedup.clusters(PagesGen.corpus(spark, nDocs, 0L, 8), cfg)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == nDocs)
    val diff = expected.keys.filter(k => got(k) != expected(k))
    assert(diff.isEmpty, s"cluster mismatch for ids ${diff.take(5)}")
  }

  test("text is byte-identical per url across independent generations") {
    val a = PagesGen.pages(spark, 100, 0L, 8).select("url", "text")
    val b = PagesGen.pages(spark, 100, 0L, 4).select("url", "text") // different partitioning
    val mismatched = a.join(b.withColumnRenamed("text", "text2"), "url")
      .where(col("text") =!= col("text2")).count()
    assert(mismatched == 0)
    assert(a.count() == 100)
  }

  test("pipeline output is deterministic across reruns") {
    val again = Dedup.nearDupPairs(PagesGen.corpus(spark, nDocs, 0L, 3), cfg)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == foundPairs)
  }

  test("hot-bucket cap prunes oversized buckets but keeps small-bucket pairs") {
    // corpus where every doc shares one boilerplate band is simulated by a tiny
    // maxBucket: pairs must still be found via other (smaller) buckets
    val corpus = PagesGen.corpus(spark, 100, 0L, 4)
    val strict = Dedup.nearDupPairs(corpus, cfg.copy(maxBucket = 10)).count()
    val loose = Dedup.nearDupPairs(corpus, cfg.copy(maxBucket = 2000)).count()
    assert(strict == loose) // duplicate buckets here are tiny (≤3 docs)
  }

  test("salting keeps hot-bucket duplicate groups connected under a tiny cap") {
    import spark.implicits._
    // 60 exact-duplicate docs → every band bucket is hot (size 60 > cap 10);
    // plus unrelated background docs
    val hotText = (1 to 100).map(i => s"hot$i word$i").mkString(" ")
    val docs = ((0L until 60L).map(i => (i, hotText)) ++
      (100L until 130L).map(i => (i, PagesGen.textFor(7L, i)))).toDF("id", "text")
    val tiny = cfg.copy(maxBucket = 10, saltWindow = 4)
    val salted = Dedup.clusters(docs, tiny).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L until 60L).forall(salted(_) == 0L),
      s"hot docs not connected: ${(0L until 60L).map(salted).distinct.take(5)}")
    // without salting the capped bucket leaves them all singletons
    val noSalt = Dedup.clusters(docs, tiny.copy(saltWindow = 0)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L until 60L).forall(i => noSalt(i) == i))
  }

  test("MUTATED boilerplate (BigSmoke skew fixture) resolves to ONE cluster under the cap") {
    import spark.implicits._
    // PagesGen.boilerplateText: one shared template at 1% token mutation
    // (pairwise J ≈ 0.85-0.95) — unlike the exact-duplicate test above,
    // members differ in signature lane 0, so connectivity must come from
    // intra-cell (sort_key, id) adjacency PLUS cross-cell stitching, the
    // path the 2M-doc skewed smoke exercises at scale. Pinned here at test
    // scale so the smoke's "1 cluster" evidence has a fast guard.
    val docs = ((0L until 80L).map(i => (i, PagesGen.boilerplateText(0L, i, textScale = 1))) ++
      (100L until 140L).map(i => (i, PagesGen.textFor(7L, i)))).toDF("id", "text")
    val tiny = cfg.copy(maxBucket = 16, saltWindow = 4)
    val clusters = Dedup.clusters(docs, tiny).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val boilerClusters = (0L until 80L).map(clusters).distinct
    assert(boilerClusters == Seq(0L),
      s"boilerplate group fragmented into ${boilerClusters.size} clusters: " +
        s"${boilerClusters.take(5)}")
    // determinism of the fixture itself (it feeds the recorded smoke numbers)
    assert(PagesGen.boilerplateText(0L, 7L) == PagesGen.boilerplateText(0L, 7L))
    assert(PagesGen.boilerplateText(0L, 7L) != PagesGen.boilerplateText(0L, 8L))
  }

  test("char-shingle mode end-to-end: recall ≥ 0.99 + perfect precision vs char-gram truth") {
    // the reference's MinHash input is ANY symbol set (minhash.jl:146-170);
    // char-5-gram mode exercises the full pipeline on character shingles.
    // Char-gram Jaccard of the planted mutations is higher than word-trigram
    // Jaccard (a changed word only disturbs ±4 chars of context), so the
    // clusters at threshold 0.5 are at least the word-mode ones.
    val n = 200L
    val ccfg = cfg.copy(charShingles = 5)
    val texts = (0L until n).map(i => i -> PagesGen.textFor(0L, i)).toMap
    val shingles = texts.map { case (id, t) =>
      id -> GraftFunctions.shingleHashSet(GraftFunctions.charNgrams(t, 5), ccfg.seed)
    }
    val truth = (for {
      a <- 0L until n; b <- (a + 1) until n
      if Similarities.jaccardSorted(shingles(a), shingles(b)) >= ccfg.threshold
    } yield (a, b)).toSet
    assert(truth.nonEmpty)
    val found = Dedup.nearDupPairs(PagesGen.corpus(spark, n, 0L, 8), ccfg)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = found.intersect(truth).size.toDouble / truth.size
    assert(recall >= 0.99, s"char-mode recall=$recall (${truth.size} truth, ${found.size} found)")
    assert(found.subsetOf(truth), s"false positives: ${found.diff(truth).take(5)}")
  }

  test("salting splits hot buckets into bounded cells (no whole-bucket task)") {
    import spark.implicits._
    // 500 exact duplicates → every band bucket has 500 members, cap 50:
    // the window partition (band_hash, cell) must never see the whole bucket
    val hotText = (1 to 80).map(i => s"tok$i filler$i").mkString(" ")
    val docs = (0L until 500L).map(i => (i, hotText)).toDF("id", "text")
    val tiny = cfg.copy(maxBucket = 50, saltWindow = 4)
    val sigs = Dedup.signatures(docs, tiny)
    val bandsDf = Dedup.bands(sigs, tiny)
    val census = Dedup.bucketCensus(bandsDf)
    val cells = Dedup.saltedCells(bandsDf, census, sigs, tiny)
    val maxCell = cells.groupBy("band_hash", "cell")
      .count().agg(max("count")).first().getLong(0)
    assert(maxCell < 2L * tiny.maxBucket, s"cell of $maxCell rows > 2×cap")
    // and the scattered fragments still come back as ONE cluster
    val clustered = Dedup.clusters(docs, tiny).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(clustered.forall(_._2 == 0L),
      s"fragmented: ${clustered.map(_._2).distinct.take(5).mkString(",")}")
  }

  test("connected components handles chains and isolated vertices") {
    import spark.implicits._
    val vertices = (0L to 7L).toDF("id")
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val got = ConnectedComponents.run(vertices, edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 4L, 5L -> 5L, 6L -> 5L, 7L -> 7L))
  }

  test("connected components converges on a long path graph (pointer jumping)") {
    import spark.implicits._
    // a 600-vertex path has diameter 599: plain min-propagation would need
    // 599 rounds (the salted-hot-bucket failure mode); jumping needs ~12
    val n = 600L
    val vertices = (0L until n).toDF("id")
    val edges = (0L until n - 1).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = ConnectedComponents.run(vertices, edges, maxIter = 16).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == n && got.forall(_._2 == 0L))
  }

  /** A warm start from `seed` labels (the rest start at their own ids)
    * must give the cold run's components, exactly. */
  private def assertWarmEqualsCold(
      n: Long, edges: Seq[(Long, Long)], seed: Map[Long, Long], maxIter: Int = 50): Unit = {
    import spark.implicits._
    val vertices = (0L until n).toDF("id")
    val e = edges.toDF("id_a", "id_b")
    val initial = (0L until n).map(v => (v, seed.getOrElse(v, v))).toDF("id", "cluster_id")
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cold = labels(ConnectedComponents.run(vertices, e, maxIter))
    val warm = labels(ConnectedComponents.fromLabels(initial, e, maxIter))
    assert(cold.size == n && warm == cold)
  }

  /** Seed labels as a previous snapshot holds them: the cold components of
    * the old vertices over the old edges. */
  private def snapshot(oldN: Long, oldEdges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    ConnectedComponents.run((0L until oldN).toDF("id"), oldEdges.toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("warm start: a new vertex bridging two old clusters with different minimum ids") {
    // old clusters {1,2,3} (min 1) and {4,5,6} (min 4); 0 and 7 stay alone
    val old = Seq((1L, 2L), (2L, 3L), (4L, 5L), (5L, 6L))
    // new vertex 9 bridges 3 and 6; new vertex 8 bridges 7 and 9
    assertWarmEqualsCold(10L, old ++ Seq((3L, 9L), (6L, 9L), (7L, 8L), (8L, 9L)),
      snapshot(8L, old))
    // a new edge between two old vertices also merges their clusters
    assertWarmEqualsCold(8L, old :+ ((6L, 0L)), snapshot(8L, old))
  }

  test("warm start: a long path extended at its far end (jump rounds)") {
    // an old 300-vertex path labelled 0, extended by a 300-vertex new path:
    // the new tail needs the pointer-jump rounds to learn label 0
    val old = (0L until 299L).map(i => (i, i + 1))
    val ext = (299L until 599L).map(i => (i, i + 1))
    assertWarmEqualsCold(600L, old ++ ext, snapshot(300L, old), maxIter = 16)
  }

  test("warm start: isolated new vertices keep their own ids") {
    val old = Seq((0L, 3L), (3L, 5L), (1L, 2L))
    assertWarmEqualsCold(12L, old, snapshot(6L, old))
  }

  test("warm start: a seed that covers only some vertices") {
    // seeded random graphs; the seed labels a random subset of the old
    // vertices with their old components, everything else starts cold
    for (s <- 1 to 4) {
      val rnd = new scala.util.Random(s)
      val (n, oldN) = (120L, 80L)
      val edges = Seq.fill(90)((rnd.nextLong(n), rnd.nextLong(n))).filter(e => e._1 != e._2)
      val oldEdges = edges.filter(e => e._1 < oldN && e._2 < oldN && rnd.nextDouble() < 0.7)
      val seed = snapshot(oldN, oldEdges).filter(_ => rnd.nextBoolean())
      assert(seed.nonEmpty && seed.size < oldN)
      assertWarmEqualsCold(n, edges, seed)
    }
  }

  test("connected components throws loudly when maxIter is hit before fixpoint") {
    import spark.implicits._
    val vertices = (0L to 4L).toDF("id")
    val edges = (0L to 3L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    assertThrows[IllegalStateException] {
      ConnectedComponents.run(vertices, edges, maxIter = 1).collect()
    }
  }
}
