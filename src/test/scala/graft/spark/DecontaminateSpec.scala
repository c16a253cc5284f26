package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core.Similarities
import graft.functions.GraftFunctions
import graft.pipeline.{Decontaminate, Dedup, DedupConfig}
import graft.testkit.PagesGen

/** Eval-set decontamination: exact ground truth equivalence on the planted
  * corpus, the empty/zero short-circuits (the phantom-broadcast guard), the
  * broadcast→shuffle fallbacks (reached through the non-public
  * [[Decontaminate.Limits]] parameter), and the no-corpus-shuffle plan
  * shape. */
class DecontaminateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val nDocs = 400L
  val cfg = DedupConfig(shingleWords = 3, numHashes = 126, bands = 42, threshold = 0.5, seed = 42L)
  val m = 7L // eval slice: id % 7 == 0 (same rule as q_decontaminate)

  lazy val corpusDf = PagesGen.corpus(spark, nDocs, seed = 0L, partitions = 8)
  def evalPart = corpusDf.where(col("id") % m === 0)
  def trainPart = corpusDf.where(col("id") % m =!= 0)

  /** Exact cross-split ground truth via the pure-Scala kernels (no LSH). */
  lazy val truth: Map[(Long, Long), Double] = {
    val shingles = (0L until nDocs).map { i =>
      i -> GraftFunctions.shingleHashSet(
        GraftFunctions.wordNgrams(PagesGen.textFor(0L, i), cfg.shingleWords), cfg.seed)
    }.toMap
    (for {
      t <- 0L until nDocs if t % m != 0
      e <- 0L until nDocs if e % m == 0
      j = Similarities.jaccardSorted(shingles(t), shingles(e))
      if j >= cfg.threshold
    } yield (t, e) -> j).toMap
  }

  lazy val found: Map[(Long, Long), Double] =
    Decontaminate.pairs(trainPart, evalPart, cfg)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

  test("cross-split ground truth is non-trivial (the gate gates something)") {
    assert(truth.nonEmpty, "no planted dup pair crosses the id % 7 split — pick another modulus")
  }

  test("flagged pairs = exact ground truth (recall ≥ 0.99, precision exact)") {
    // verification is exact Jaccard ⇒ no false positives possible
    assert(found.keySet.subsetOf(truth.keySet),
      s"false positives: ${found.keySet.diff(truth.keySet).take(5)}")
    val recall = found.size.toDouble / truth.size
    assert(recall >= 0.99, s"recall=$recall (${truth.size} truth, ${found.size} found)")
    // jaccard values are the exact kernel values, bit for bit
    found.foreach { case (k, j) => assert(j == truth(k), s"jaccard mismatch at $k") }
  }

  test("shuffle fallbacks (bands, eval shingles, id prune) agree") {
    // every counted cutover forced to its shuffle side: the eval band join,
    // the eval shingle join and the verify's id probe (the pruned docs
    // behind a shuffle_hash probe — there is no second, dense verify)
    spark.catalog.clearCache() // no cached relation of a default run reused
    val (out, pinned) =
      Decontaminate.pairsWithHandle(trainPart, evalPart, cfg, Decontaminate.Limits(0L, 0L, 0L))
    val plan = out.queryExecution.optimizedPlan.toString
    val fb = out.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    pinned.foreach(_.unpersist(blocking = false))
    assert(plan.contains("strategy=shuffle_hash"), s"no shuffle_hash join:\n$plan")
    assert(!plan.contains("strategy=broadcast"), s"a fallback still broadcasts:\n$plan")
    assert(fb == found)
  }

  test("empty eval set short-circuits to an empty, correctly-typed result") {
    val (out, caches) =
      Decontaminate.pairsWithHandle(trainPart, corpusDf.where(col("id") < 0), cfg)
    assert(out.columns.toSeq == Seq("doc_id", "eval_id", "jaccard"))
    assert(out.count() == 0)
    assert(caches.isEmpty) // nothing pinned on the short-circuit path
  }

  test("zero candidate pairs short-circuits (disjoint vocabularies)") {
    import spark.implicits._
    val ev = Seq((9001L, "zzz yyy xxx www vvv uuu ttt sss")).toDF("id", "text")
    val (out, caches) = Decontaminate.pairsWithHandle(trainPart, ev, cfg)
    assert(out.count() == 0)
    assert(caches.isEmpty)
  }

  test("an eval doc sitting in the corpus under its own id IS flagged and scrubbed") {
    // eval slice ⊂ corpus: the benchmark page itself inside the training
    // corpus is the WORST leak — it must flag as the self-pair (id, id, 1.0)
    // and clean() must drop it. (The round-5 review found the previous
    // same-id exclusion shipped exactly these docs into the clean corpus.)
    val flagged = Decontaminate.pairs(corpusDf, evalPart, cfg)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val evalIds = (0L until nDocs).filter(_ % m == 0)
    evalIds.foreach(id => assert(flagged.get((id, id)).contains(1.0), s"eval doc $id not self-flagged"))
    // the cross-split flags are still exactly the disjoint-split truth
    assert(flagged.keySet.filterNot { case (a, _) => a % m == 0 } == truth.keySet)
    val cleaned = Decontaminate.clean(corpusDf, evalPart, cfg)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(evalIds.forall(!cleaned.contains(_)), "an eval doc survived the scrub")
    spark.catalog.clearCache()
  }

  test("empty-shingle docs (null/short text) never candidate-pair") {
    // empty shingle sets hash to the constant all-lanes −1 signature —
    // without the pre-band filter ONE short eval item would bucket with
    // every near-empty corpus doc (no census gate in this operator); all
    // such pairs verify to J(∅,∅)=0, so dropping them is exact
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"), (2L, null.asInstanceOf[String]),
      (3L, "xy"), (4L, "alpha beta gamma delta epsilon zeta")).toDF("id", "text")
    val eval = Seq((100L, null.asInstanceOf[String]), (101L, "zz"),
      (102L, "alpha beta gamma delta epsilon")).toDF("id", "text")
    val (flagged, caches) = Decontaminate.pairsWithHandle(corpus, eval, cfg)
    val got = flagged.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    caches.foreach(_.unpersist(blocking = false))
    // only the genuine near-dups of eval 102 flag; the null/short docs on
    // either side produce nothing (and no empty×empty candidate blow-up)
    assert(got == Set((1L, 102L), (4L, 102L)))
  }

  test("clean() = corpus minus flagged docs") {
    val cleaned = Decontaminate.clean(trainPart, evalPart, cfg)
      .select("id").collect().map(_.getLong(0)).toSet
    val flaggedDocs = truth.keySet.map(_._1)
    val trainIds = (0L until nDocs).filter(_ % m != 0).toSet
    assert(cleaned == trainIds.diff(flaggedDocs))
  }

  test("pairsFromCheckpoints ≡ in-memory pairs, base + increment, no text re-hash path") {
    import graft.pipeline.{CheckpointedDedup, IncrementalDedup}
    import graft.sources.TableIO
    val dir = java.nio.file.Files.createTempDirectory("graft-decon-ckpt").toString
    val all = PagesGen.pages(spark, 160, seed = 11L, partitions = 4)
    CheckpointedDedup.run(spark, all.where(col("id") < 120).drop("id"), cfg, dir)

    def evalSlice(corpusDf: org.apache.spark.sql.DataFrame) =
      // eval docs = copies of store docs under fresh ids ⇒ guaranteed
      // cross near-dups (J = 1 to their sources)
      corpusDf.orderBy("id").limit(20)
        .select((col("id") + lit(1000000007L)).as("id"), col("text"))

    val baseDocs = TableIO.read(spark, s"$dir/docs").select(col("id"), col("text"))
    val ev = evalSlice(baseDocs)
    val fromCkpt = graft.pipeline.Decontaminate
      .pairsFromCheckpoints(spark, dir, ev, cfg)._1
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val inMem = graft.pipeline.Decontaminate.pairs(baseDocs, ev, cfg)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fromCkpt.nonEmpty)
    assert(fromCkpt == inMem)

    // extend the store with an increment: the checkpoint read must cover
    // the union (readAll bands/docs), still equal to in-memory over union
    IncrementalDedup.run(spark, all.where(col("id") >= 120).drop("id"), cfg, dir)
    val unionDocs = IncrementalDedup.readAll(spark, dir, "docs").select(col("id"), col("text"))
    val ev2 = evalSlice(unionDocs)
    val fromCkpt2 = graft.pipeline.Decontaminate
      .pairsFromCheckpoints(spark, dir, ev2, cfg)._1
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val inMem2 = graft.pipeline.Decontaminate.pairs(unionDocs, ev2, cfg)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fromCkpt2.nonEmpty)
    assert(fromCkpt2 == inMem2)

    // a different config family must fail fast, never silently mix hashes
    val e = intercept[IllegalArgumentException] {
      graft.pipeline.Decontaminate
        .pairsFromCheckpoints(spark, dir, ev2, cfg.copy(seed = 43L))._1.count()
    }
    assert(e.getMessage.contains("DIFFERENT config"))
  }

  test("checkpoint shuffle fallbacks = default = in-memory pairs") {
    // the store path with every cutover forced: its verify reads the
    // store's docs behind a shuffle_hash id probe, and neither path may
    // read the shingles checkpoint; eval docs copy store docs from the
    // base AND the increment, so both halves of the union are probed
    import graft.pipeline.{CheckpointedDedup, IncrementalDedup}
    import graft.sources.TableIO
    val dir = java.nio.file.Files.createTempDirectory("graft-decon-ckpt-fb").toString
    val all = PagesGen.pages(spark, 160, seed = 11L, partitions = 4)
    CheckpointedDedup.run(spark, all.where(col("id") < 120).drop("id"), cfg, dir)
    val baseIds = TableIO.read(spark, s"$dir/docs").select("id")
    IncrementalDedup.run(spark, all.where(col("id") >= 120).drop("id"), cfg, dir)
    val docs = IncrementalDedup.readAll(spark, dir, "docs").select(col("id"), col("text"))
    val incDocs = docs.join(baseIds, Seq("id"), "left_anti")
    val ev = docs.join(baseIds, "id").orderBy("id").limit(10)
      .union(incDocs.orderBy("id").limit(10))
      .select((col("id") + lit(1000000007L)).as("id"), col("text"))

    def run(limits: Decontaminate.Limits): (Set[(Long, Long, Double)], String) = {
      spark.catalog.clearCache()
      val (out, pinned) = Decontaminate.pairsFromCheckpoints(spark, dir, ev, cfg, limits)
      val plan = out.queryExecution.optimizedPlan.toString
      val rows = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      pinned.foreach(_.unpersist(blocking = false))
      val scans = out.queryExecution.executedPlan.toString
      assert(scans.contains("/bands") && scans.contains("/docs"), s"store scans not shown:\n$scans")
      assert(!scans.contains("/shingles"), s"the shingles checkpoint was read:\n$scans")
      rows -> plan
    }
    val (dflt, dfltPlan) = run(Decontaminate.Limits())
    val (fb, fbPlan) = run(Decontaminate.Limits(0L, 0L, 0L))
    assert(dfltPlan.contains("strategy=broadcast"), s"default took no broadcast:\n$dfltPlan")
    assert(fbPlan.contains("strategy=shuffle_hash") && !fbPlan.contains("strategy=broadcast"),
      s"fallbacks not all taken:\n$fbPlan")
    val inMem = Decontaminate.pairs(docs, ev, cfg)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val incIds = incDocs.select("id").collect().map(_.getLong(0)).toSet
    assert(fb.exists { case (d, _, _) => incIds.contains(d) }, "no increment doc flagged")
    assert(fb.exists { case (d, _, _) => !incIds.contains(d) }, "no base doc flagged")
    assert(fb == dflt)
    assert(dflt == inMem)
    spark.catalog.clearCache()
  }

  test("plan: eval bands broadcast — no corpus-wide shuffle before the candidate join") {
    val (out, _) = Decontaminate.pairsWithHandle(trainPart, evalPart, cfg)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"candidate join should broadcast the eval side:\n$plan")
    // the only hash exchanges allowed are keyed on the O(candidates) pair
    // relation (doc_id/eval_id — the dedup repartition and the pruned
    // verify join). The corpus-wide relations must NEVER shuffle: no
    // exchange keyed on band_hash (the symmetric pipeline's bucket
    // groupBy) and none keyed on the raw corpus id (a shingle/sig
    // sort-merge would show up here).
    assert(!plan.contains("Exchange hashpartitioning(band_hash"),
      s"corpus band relation shuffled:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning(id#"),
      s"corpus shingle/sig relation shuffled:\n$plan")
  }
}
