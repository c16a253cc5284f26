package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline.IvfIndex
import graft.sources.TableIO

/** The checkpointed IVF index store: build-once/query-many must return
  * exactly what the in-memory operator returns, a rebuild over unchanged
  * input+config must recompute NOTHING, an nCells change must invalidate
  * only centroids+assignment (the quantized vectors stage — typically the
  * bulk of the bytes — stays valid), an input change must invalidate the
  * whole chain, and a partial/mixed-generation store must fail fast (the
  * full validator matrix runs for both vector stores in
  * graft.pipeline.VectorStoreSpec). */
class IvfIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")

  private def tmpDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft-ivf-store").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def collect(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq

  /** The (vec_id) probe relation of ids 0 until n — the store query's form. */
  private def ids(n: Long): org.apache.spark.sql.DataFrame =
    spark.range(n).select(col("id").as("vec_id"))

  test("store query ≡ in-memory query; resume recomputes nothing") {
    val dir = tmpDir()
    val r1 = IvfIndex.build(spark, emb, dir, nCells = 23)
    assert(r1.recomputedStages == Seq("vectors", "centroids", "assignment"))
    assert(r1.vectors == emb.count())

    val (store, pinned) = IvfIndex.topKWithHandle(spark, dir, ids(5))
    val fromStore = try collect(store)
      finally pinned.foreach(_.unpersist(blocking = false))
    val (mem, memPinned) = graft.SparkEntry.ivfTopKWithHandle(emb, col("vec_id") < 5, 23)
    val fromMem = try collect(mem)
      finally memPinned.foreach(_.unpersist(blocking = false))
    assert(fromStore.nonEmpty)
    assert(fromStore == fromMem)

    // resume: same input, same nCells → all three manifests keep their
    // snapshot ids (nothing recomputed, nothing rewritten)
    val snaps = Seq("vectors", "centroids", "assignment")
      .map(n => TableIO.readManifest(s"$dir/$n").get.snapshotId)
    val r2 = IvfIndex.build(spark, emb, dir, nCells = 23)
    assert(r2.recomputedStages.isEmpty)
    val snaps2 = Seq("vectors", "centroids", "assignment")
      .map(n => TableIO.readManifest(s"$dir/$n").get.snapshotId)
    assert(snaps == snaps2)
  }

  test("probe-id relation form ≡ filter form; empty probe set short-circuits") {
    val dir = tmpDir()
    IvfIndex.build(spark, emb, dir, nCells = 23)
    import spark.implicits._
    // the store's relation form (the CLI's broadcast-semi-join posture)
    // must return exactly what the filter form of probeRerank returns over
    // the same stored relations
    val (byIds, p1) = IvfIndex.topKWithHandle(spark, dir, Seq(0L, 1L, 2L, 3L, 4L).toDF("vec_id"))
    val fromIds = try collect(byIds) finally p1.foreach(_.unpersist(blocking = false))
    val Seq(e, cent, cell) = Seq("vectors", "centroids", "assignment")
      .map(n => TableIO.read(spark, s"$dir/$n"))
    val (byFilter, p2) = IvfIndex.probeRerank(e, cent, cell, e.where(col("vec_id") < 5), 2, 10)
    val fromFilter = try collect(byFilter) finally p2.foreach(_.unpersist(blocking = false))
    assert(fromIds.nonEmpty && fromIds == fromFilter)
    // empty probe set: empty result with the SAME schema, and no broadcast
    // in the plan (the phantom-broadcast guard, ADVICE r5)
    val (emptyRes, p3) = IvfIndex.topKWithHandle(spark, dir, Seq.empty[Long].toDF("vec_id"))
    try {
      assert(emptyRes.schema == byIds.schema,
        s"${emptyRes.schema} != ${byIds.schema}")
      assert(emptyRes.count() == 0)
      val plan = emptyRes.queryExecution.optimizedPlan.toString.toLowerCase
      assert(!plan.contains("broadcast"),
        s"empty probe set must not build a broadcast:\n$plan")
    } finally p3.foreach(_.unpersist(blocking = false))
  }

  test("nCells change invalidates centroids+assignment but not vectors") {
    val dir = tmpDir()
    IvfIndex.build(spark, emb, dir, nCells = 23)
    val vecSnap = TableIO.readManifest(s"$dir/vectors").get.snapshotId
    val r = IvfIndex.build(spark, emb, dir, nCells = 11)
    assert(r.recomputedStages == Seq("centroids", "assignment"))
    assert(TableIO.readManifest(s"$dir/vectors").get.snapshotId == vecSnap)
    // and the store still queries consistently under the new config
    val (df, pinned) = IvfIndex.topKWithHandle(spark, dir, ids(3))
    try assert(df.count() > 0L)
    finally pinned.foreach(_.unpersist(blocking = false))
  }

  test("input change invalidates the whole chain") {
    val dir = tmpDir()
    IvfIndex.build(spark, emb, dir, nCells = 23)
    val r = IvfIndex.build(spark, emb.where(col("vec_id") < 400), dir, nCells = 23)
    assert(r.recomputedStages == Seq("vectors", "centroids", "assignment"))
  }

  test("append ≡ full rebuild at frozen centroids; re-deliveries dropped; appends stack") {
    val base = emb.where(col("vec_id") % 5 =!= 0)
    val delta1 = emb.where(col("vec_id") % 5 === 0 && col("vec_id") % 10 =!= 5)
    val delta2 = emb.where(col("vec_id") % 10 === 5)
    val dir = tmpDir()
    IvfIndex.build(spark, base, dir, nCells = 23)
    val r1 = IvfIndex.append(spark, delta1, dir)
    assert(r1.newVectors == delta1.count() && r1.droppedDupOrStored == 0)
    assert(r1.incDir.endsWith("inc-1"))
    assert(r1.stages.map(_.name) == Seq("vectors", "assignment"))
    val r2 = IvfIndex.append(spark, delta2, dir)
    assert(r2.incDir.endsWith("inc-2") && r2.newVectors == delta2.count())
    // a re-delivery (everything already stored) writes nothing
    val r3 = IvfIndex.append(spark, delta1, dir)
    assert(r3.newVectors == 0 && r3.droppedDupOrStored == delta1.count())
    assert(r3.incDir.isEmpty)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/inc-3")))

    // equality target: the same probe against relations rebuilt in memory
    // over the UNION with the base's FROZEN centroids (a full rebuild would
    // re-sample centroids from the union — frozen geometry is the contract)
    val (got, p1) = IvfIndex.topKWithHandle(spark, dir, ids(12), nprobe = 2, k = 10)
    val fromStore = try collect(got) finally p1.foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
    val eAll = IvfIndex.quantized(emb)
    val cent = IvfIndex.centroids(IvfIndex.quantized(base), 23)
    val cell = IvfIndex.assignment(eAll, cent, 23)
    val (want, p2) = IvfIndex.probeRerank(eAll, cent, cell, eAll.where(col("vec_id") < 12), 2, 10)
    val fromMem = try collect(want) finally p2.foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
    assert(fromStore.nonEmpty && fromStore == fromMem)
    // the probe set crosses base and appended vectors (vec_id 0,5,10 ∈ deltas)
    assert(fromStore.map(_.head).toSet.exists(id => id.asInstanceOf[Long] % 5 == 0))
  }

  test("duplicate probe ids do not duplicate results or burn nprobe slots") {
    val dir = tmpDir()
    IvfIndex.build(spark, emb, dir, nCells = 23)
    import spark.implicits._
    val clean = Seq(0L, 1L, 2L).toDF("vec_id")
    val dup = Seq(0L, 0L, 1L, 2L, 2L, 2L).toDF("vec_id")
    val (a, pa) = IvfIndex.topKWithHandle(spark, dir, clean)
    val want = try collect(a) finally pa.foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
    val (b, pb) = IvfIndex.topKWithHandle(spark, dir, dup)
    val got = try collect(b) finally pb.foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
    assert(got == want, "dup probe ids must behave as a set (the filter-form semantics)")
  }

  test("intra-batch duplicate vec_ids are dropped at append, not committed twice") {
    val base = emb.where(col("vec_id") % 5 =!= 0)
    val delta = emb.where(col("vec_id") % 5 === 0)
    val dir = tmpDir()
    IvfIndex.build(spark, base, dir, nCells = 23)
    // the same drop unioned with itself: every id appears twice IN the batch
    val r = IvfIndex.append(spark, delta.unionByName(delta), dir)
    assert(r.newVectors == delta.count(), "one copy per id committed")
    assert(r.droppedDupOrStored == delta.count(), "the intra-batch copies counted as dropped")
    val stored = TableIO.read(spark, s"$dir/inc-1/vectors")
    assert(stored.count() == stored.select("vec_id").distinct().count())
  }

  test("append validation: partial inc, gap, and base-rebuilt-under-other-config fail fast") {
    val base = emb.where(col("vec_id") % 5 =!= 0)
    val delta = emb.where(col("vec_id") % 5 === 0)
    val dir = tmpDir()
    IvfIndex.build(spark, base, dir, nCells = 23)
    IvfIndex.append(spark, delta, dir)
    // partial: drop the inc assignment manifest
    val mf = java.nio.file.Paths.get(s"$dir/inc-1/assignment/_manifest.json")
    val saved = java.nio.file.Files.readAllBytes(mf)
    java.nio.file.Files.delete(mf)
    val e1 = intercept[IllegalArgumentException] {
      IvfIndex.topKWithHandle(spark, dir, ids(5))
    }
    assert(e1.getMessage.contains("PARTIAL") && e1.getMessage.contains("inc-1"))
    java.nio.file.Files.write(mf, saved)
    // gap: rename inc-1 to inc-2
    java.nio.file.Files.move(
      java.nio.file.Paths.get(s"$dir/inc-1"), java.nio.file.Paths.get(s"$dir/inc-2"))
    val e2 = intercept[IllegalArgumentException] {
      IvfIndex.topKWithHandle(spark, dir, ids(5))
    }
    assert(e2.getMessage.contains("GAP"))
    java.nio.file.Files.move(
      java.nio.file.Paths.get(s"$dir/inc-2"), java.nio.file.Paths.get(s"$dir/inc-1"))
    // a stray inc-0 (never engine-written — appends number from 1) must be
    // ignored like any other stray, not read as "inc-1 is missing";
    // inc-01 parses to a valid number — the canonical-form guard ignores it
    // rather than letting it duplicate the real inc-1
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/inc-0"))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/inc-01"))
    val (okDf, okPinned) = IvfIndex.topKWithHandle(spark, dir, ids(5))
    assert(okDf.count() > 0)
    okPinned.foreach(_.unpersist(blocking = false))
    // base rebuilt under a different nCells: the append no longer chains
    IvfIndex.build(spark, base, dir, nCells = 31)
    val e3 = intercept[IllegalArgumentException] {
      IvfIndex.topKWithHandle(spark, dir, ids(5))
    }
    assert(e3.getMessage.contains("DIFFERENT base generation"))
  }

  test("missing stage and broken hash chain fail fast") {
    val dir = tmpDir()
    val ex = intercept[IllegalStateException] {
      IvfIndex.topKWithHandle(spark, dir, ids(5))
    }
    assert(ex.getMessage.contains("no manifest"))

    IvfIndex.build(spark, emb, dir, nCells = 23)
    // simulate a mixed-generation store: the assignment stage rewritten
    // under some other chain (here: just a wrong stored hash). The data is
    // materialized to driver rows first — writing a stage from its own lazy
    // read would overwrite the path mid-scan.
    val aDir = s"$dir/assignment"
    val m = TableIO.readManifest(aDir).get
    val src = TableIO.read(spark, aDir)
    val copy = spark.createDataFrame(
      java.util.Arrays.asList(src.collect(): _*), src.schema)
    TableIO.write(copy, aDir, "assignment", "deadbeef", 0L, m.extra)
    val ex2 = intercept[IllegalArgumentException] {
      IvfIndex.topKWithHandle(spark, dir, ids(5))
    }
    assert(ex2.getMessage.contains("hash chain broken"))
  }
}
