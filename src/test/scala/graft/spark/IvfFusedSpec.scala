package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline.IvfIndex

/** The IVF assignment has two physically different forms that must pick the
  * bitwise-identical winner per vector: the FUSED narrow map
  * (graft_ivf_argmax over plan-time literal centroids — no join, no
  * exchange) and the relational crossJoin + max(struct(score, −cid))
  * groupBy that `assignment` selects above IvfIndex.FusedCellLimit cells.
  * Equality of the full operator output across both forms is the contract
  * that lets the DuckDB oracle (which replicates the relational form's
  * arithmetic via row_number) gate the fused production path. */
class IvfFusedSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def run(relational: Boolean): (Seq[Seq[Any]], String) = {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val (df, pinned) =
      if (!relational) graft.SparkEntry.ivfTopKWithHandle(emb, col("vec_id") < 5, 23)
      else {
        // SparkEntry.ivfTopKWithHandle's composition (nprobe 2, k 10) with
        // the relational assignment in place of the fused one
        val e = IvfIndex.quantized(emb).cache()
        val cent = IvfIndex.centroids(e, 23)
        val (out, p) = IvfIndex.probeRerank(
          e, cent, IvfIndex.relationalAssignment(e, cent), e.where(col("vec_id") < 5), 2, 10)
        (out, e +: p)
      }
    val rows = df.collect().map(_.toSeq).toSeq
    val plan = df.queryExecution.optimizedPlan.toString
    pinned.foreach(_.unpersist(blocking = false))
    rows -> plan
  }

  test("fused literal-centroid assignment ≡ relational groupBy assignment") {
    val (fused, fusedPlan) = run(relational = false)
    assert(fused.nonEmpty)
    assert(fusedPlan.contains("graft_ivf_argmax"),
      "default path did not take the fused assignment")
    val (relational, relationalPlan) = run(relational = true)
    assert(!relationalPlan.contains("graft_ivf_argmax"),
      "the relational assignment ran the fused kernel")
    // collected in the operator's own deterministic orderBy(probe_id, rnk):
    // sequence equality pins ranks AND bitwise cosines across the two paths
    assert(fused == relational)
  }

  test("zero matching probes yields an empty result without a phantom broadcast") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val (df, pinned) = graft.SparkEntry.ivfTopKWithHandle(emb, lit(false), 23)
    try assert(df.count() == 0L)
    finally pinned.foreach(_.unpersist(blocking = false))
  }

  test("nCells larger than the corpus degrades to every-vector-a-centroid") {
    // 40-vector slice, 100 requested cells: the limit caps the sample at 40
    // centroids, every vector lands in SOME cell, and the probes still get
    // exact top-k output (self-cell rerank)
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .where(col("vec_id") < 40)
    val (df, pinned) = graft.SparkEntry.ivfTopKWithHandle(emb, col("vec_id") < 3, 100)
    try {
      val rows = df.collect()
      assert(rows.nonEmpty)
      val perProbe = rows.groupBy(_.getLong(0))
      assert(perProbe.keySet == Set(0L, 1L, 2L))
      // ranks are 1..k' contiguous per probe
      perProbe.values.foreach { rs =>
        assert(rs.map(_.getLong(2)).sorted.toSeq == (1L to rs.length).toSeq)
      }
    } finally pinned.foreach(_.unpersist(blocking = false))
  }
}
