package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.pipeline.{MipsIndex, SignAlshRetrieval}
import graft.pipeline.SignAlshRetrieval.MipsPlan
import graft.sources.TableIO

/** The checkpointed MIPS index store: a store query must return exactly
  * what the in-memory operator returns over the same vectors and plan (the
  * Q-transform needs no maxnorm, so probe bits against the store are the
  * build-time bits), resume must recompute nothing, a plan change must
  * invalidate only the bits stage. The fail-fast validation of a partial
  * or mixed-generation store is pinned for both vector stores by
  * graft.pipeline.VectorStoreSpec. */
class MipsIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
  private val plan = MipsPlan(3, 16, 6)

  /** The (vec_id) probe relation of ids 0 until n — the store query's form. */
  private def ids(n: Long): org.apache.spark.sql.DataFrame =
    spark.range(n).select(col("id").as("vec_id"))

  private def tmpDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft-mips-store").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  test("store query ≡ in-memory query; resume recomputes nothing") {
    val dir = tmpDir()
    val r1 = MipsIndex.build(spark, emb, dir, Some(plan))
    assert(r1.recomputedStages == Seq("vectors", "bits"))
    assert(r1.plan == plan)

    val (store, pinned) = MipsIndex.topKWithHandle(spark, dir, ids(5), k = 10)
    val fromStore = try store.collect().map(_.toSeq).toSeq
      finally pinned.foreach(_.unpersist(blocking = false))
    val e = emb.select(col("vec_id"), GraftFunctions.quantize(col("embedding")).as("v"))
    spark.catalog.clearCache()
    val fromMem = SignAlshRetrieval.topK(e, plan, col("vec_id") < 5, 10)
      .collect().map(_.toSeq).toSeq
    spark.catalog.clearCache()
    assert(fromStore.nonEmpty)
    assert(fromStore.toSet == fromMem.toSet)

    val snaps = Seq("vectors", "bits").map(n =>
      TableIO.readManifest(s"$dir/$n").get.snapshotId)
    val r2 = MipsIndex.build(spark, emb, dir, Some(plan))
    assert(r2.recomputedStages.isEmpty)
    assert(Seq("vectors", "bits").map(n =>
      TableIO.readManifest(s"$dir/$n").get.snapshotId) == snaps)
  }

  test("a plan change invalidates only the bits stage; default plan comes from planFor") {
    val dir = tmpDir()
    MipsIndex.build(spark, emb, dir, Some(plan))
    val vecSnap = TableIO.readManifest(s"$dir/vectors").get.snapshotId
    val r = MipsIndex.build(spark, emb, dir, Some(MipsPlan(2, 16, 5)))
    assert(r.recomputedStages == Seq("bits"))
    assert(TableIO.readManifest(s"$dir/vectors").get.snapshotId == vecSnap)
    // no-plan build derives planFor(n) from the vectors manifest row count
    val r2 = MipsIndex.build(spark, emb, dir, None)
    assert(r2.plan == SignAlshRetrieval.planFor(emb.count()))
  }

  test("append ≡ rebuild over the union (frozen plan + maxnorm); ids form; zero-new") {
    import spark.implicits._
    graft.functions.GraftExpressions.register(spark)
    // the delta must NOT contain the corpus max-norm vector (appending past
    // the frozen maxnorm is a contract violation — separate test): exclude
    // the argmax-norm id from the delta slice explicitly
    val e = emb.select(col("vec_id"),
      GraftFunctions.quantize(col("embedding")).as("v"))
    val maxId = e
      .select(col("vec_id"), call_function("graft_dot", col("v"), col("v")).as("n2"))
      .orderBy(col("n2").desc, col("vec_id")).first().getLong(0)
    val deltaIds = (0L to 6L).filterNot(_ == maxId).take(5)
    val base = emb.where(!col("vec_id").isInCollection(deltaIds))
    val delta = emb.where(col("vec_id").isInCollection(deltaIds))

    val dirA = tmpDir()
    MipsIndex.build(spark, base, dirA, Some(plan))
    val r = MipsIndex.append(spark, delta, dirA)
    assert(r.newVectors == deltaIds.size && r.incDir.endsWith("inc-1"))
    assert(r.stages.map(_.name) == Seq("vectors", "bits"))
    // zero-new: re-delivering the same delta writes nothing
    val r0 = MipsIndex.append(spark, delta, dirA)
    assert(r0.newVectors == 0 && r0.droppedDupOrStored == deltaIds.size && r0.incDir.isEmpty)

    // full rebuild over the union under the SAME plan: m2 re-derives to the
    // same value (the max-norm vector sits in the base), so bits — and
    // therefore query results — must match exactly. Row order across probes
    // is not pinned; compare as sets (per-probe ranks ARE pinned inside
    // the rows).
    val dirB = tmpDir()
    MipsIndex.build(spark, emb, dirB, Some(plan))
    val probe = (deltaIds :+ 7L).toDF("vec_id")
    val (a, pa) = MipsIndex.topKWithHandle(spark, dirA, probe, k = 10)
    val fromAppend = try a.collect().map(_.toSeq).toSet
      finally pa.foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
    val (b, pb) = MipsIndex.topKWithHandle(spark, dirB, probe, k = 10)
    val fromRebuild = try b.collect().map(_.toSeq).toSet
      finally pb.foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
    assert(fromAppend.nonEmpty && fromAppend == fromRebuild)
  }

  test("empty probe set short-circuits before any broadcast (filter and ids forms)") {
    import spark.implicits._
    val dir = tmpDir()
    MipsIndex.build(spark, emb, dir, Some(plan))
    val (populated, pp) = MipsIndex.topKWithHandle(spark, dir, ids(3))
    val popSchema = populated.schema
    pp.foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
    // filter form: the in-memory entry over the stored vectors
    val (e1, p1) = SignAlshRetrieval.topKWithHandle(
      TableIO.read(spark, s"$dir/vectors"), plan, col("vec_id") < 0, 10)
    try {
      assert(e1.schema == popSchema, s"${e1.schema} != $popSchema")
      assert(e1.count() == 0)
      assert(!e1.queryExecution.optimizedPlan.toString.toLowerCase.contains("broadcast"))
    } finally p1.foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
    // ids-relation form: the store entry (the CLI posture)
    val (e2, p2) = MipsIndex.topKWithHandle(spark, dir, Seq.empty[Long].toDF("vec_id"))
    try {
      assert(e2.schema == popSchema)
      assert(e2.count() == 0)
      assert(!e2.queryExecution.optimizedPlan.toString.toLowerCase.contains("broadcast"))
    } finally p2.foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
  }

  test("append past the frozen maxnorm fails fast; pre-append-era store named") {
    import spark.implicits._
    val dir = tmpDir()
    MipsIndex.build(spark, emb, dir, Some(plan))
    // a vector far outside the corpus norm range (quantized dot ≫ stored m2)
    val dim = emb.select(size(col("embedding"))).first().getInt(0)
    val big = Seq((9999999L, Array.fill(dim)(10f))).toDF("vec_id", "embedding")
    val ex = intercept[IllegalArgumentException] {
      MipsIndex.append(spark, big, dir)
    }
    assert(ex.getMessage.contains("maxnorm"))
    // and no partial inc dir was left behind
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/inc-1")))
    // a store whose bits manifest lacks the m2 tag (pre-append generation)
    // is still queryable but refuses append with a rebuild hint
    val m = TableIO.readManifest(s"$dir/bits").get
    val src = TableIO.read(spark, s"$dir/bits")
    val copy = spark.createDataFrame(
      java.util.Arrays.asList(src.collect(): _*), src.schema)
    TableIO.write(copy, s"$dir/bits", "bits", m.configHash, 0L, m.extra - "m2")
    val (q, pq) = MipsIndex.topKWithHandle(spark, dir, ids(3))
    try assert(q.count() > 0) finally pq.foreach(_.unpersist(blocking = false))
    val ex2 = intercept[IllegalStateException] {
      MipsIndex.append(spark, emb.limit(1), dir)
    }
    assert(ex2.getMessage.contains("predates the append feature"))
    // the advertised remediation must actually WORK: re-running build on
    // the legacy store detects the m2-less manifest, refreshes the bits
    // stage (the vectors stage resumes), and append then succeeds
    // (round-6 review: the stage hash doesn't cover extras, so without the
    // legacy check build would resume bits and the advice was a no-op)
    val r = MipsIndex.build(spark, emb, dir, Some(plan))
    assert(r.recomputedStages == Seq("bits"))
    assert(TableIO.readManifest(s"$dir/bits").get.extra.contains("m2"))
    val fresh = emb.where(col("vec_id") === 1L)
      .withColumn("vec_id", col("vec_id") + 5000000L)
    val ra = MipsIndex.append(spark, fresh, dir)
    assert(ra.newVectors == 1L)
    spark.catalog.clearCache()
  }
}
