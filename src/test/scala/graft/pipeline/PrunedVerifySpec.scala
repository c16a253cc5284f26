package graft.pipeline

import java.nio.file.{Files, Path}
import java.util.Comparator

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.TableIO
import graft.testkit.PagesGen

/** The stores' one verify step, `Dedup.prunedVerify`: its id side is
  * broadcast up to `Dedup.BroadcastKeyLimit` pairs and shuffle-probed
  * above it. Limit 0 forces the fallback; both must give the same rows,
  * `lcs_len` included. */
class PrunedVerifySpec extends AnyFunSuite {
  lazy val spark = graft.spark.TestSpark.spark
  val cfg = DedupConfig(seed = 42L)

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def rmrf(dir: String): Unit = {
    val walk = Files.walk(Path.of(dir))
    try walk.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally walk.close()
  }

  private def rows(df: DataFrame): Seq[(Long, Long, Double, Int)] =
    df.select("id_a", "id_b", "jaccard", "lcs_len").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq.sorted

  /** The id-side join strategy of the verify's doc prune. */
  private def idStrategy(prunedDocs: DataFrame): String = {
    val plan = prunedDocs.queryExecution.analyzed.toString
    Seq("broadcast", "shuffle_hash").find(h => plan.contains(s"strategy=$h")).getOrElse(plan)
  }

  /** The verified rows at limit 0 (fallback) and at the constant (broadcast). */
  private def bothSides(pairs: DataFrame, docs: DataFrame): Seq[(Long, Long, Double, Int)] = {
    val n = pairs.count()
    val (viaShuffle, docsS) = Dedup.prunedVerify(pairs, n, docs, cfg, idLimit = 0L)
    val (viaBroadcast, docsB) = Dedup.prunedVerify(pairs, n, docs, cfg)
    try {
      assert(idStrategy(docsS) == "shuffle_hash")
      assert(idStrategy(docsB) == "broadcast")
      val (s, b) = (rows(viaShuffle), rows(viaBroadcast))
      assert(s.nonEmpty && s == b)
      s
    } finally Seq(docsS, docsB).foreach(_.unpersist(blocking = false))
  }

  test("shuffle fallback matches the broadcast path on a build's candidates") {
    val dir = tmp("graft-verify-build")
    try {
      val rep = CheckpointedDedup.run(spark, PagesGen.pages(spark, 300, 0L, 4), cfg, dir)
      val got = bothSides(TableIO.read(spark, s"$dir/candidates"), TableIO.read(spark, s"$dir/docs"))
      // and both equal what the store wrote
      assert(got == rows(rep.verifiedPairs))
    } finally rmrf(dir)
  }

  test("shuffle fallback of the verify id-prune matches the broadcast path") {
    // the increment's unadjudicated pairs (its candidates minus the base's)
    // over the union docs — what IncrementalDedup.run hands the verify
    val all = PagesGen.pages(spark, 120L, seed = 23L, partitions = 4)
    val dir = tmp("graft-verify-inc")
    try {
      CheckpointedDedup.run(spark, all.where(col("id") % 2 === 0).drop("id"), cfg, dir)
      val rep = IncrementalDedup.run(spark, all.where(col("id") % 2 === 1).drop("id"), cfg, dir)
      val toVerify = TableIO.read(spark, s"${rep.incDir}/candidates")
        .join(TableIO.read(spark, s"$dir/candidates"), Seq("id_a", "id_b"), "left_anti")
      val got = bothSides(toVerify, IncrementalDedup.readAll(spark, dir, "docs"))
      // and the increment's verified pairs are the base's plus exactly these
      assert(rows(rep.verifiedPairs) ==
        (rows(TableIO.read(spark, s"$dir/verified_pairs")) ++ got).sorted)
    } finally rmrf(dir)
  }

  test("an empty pair set is shuffle-probed, never broadcast") {
    val dir = tmp("graft-verify-empty")
    try {
      CheckpointedDedup.run(spark, PagesGen.pages(spark, 40, 0L, 2), cfg, dir)
      val none = TableIO.read(spark, s"$dir/candidates").limit(0)
      val (verified, docs) = Dedup.prunedVerify(none, 0L, TableIO.read(spark, s"$dir/docs"), cfg)
      try {
        assert(idStrategy(docs) == "shuffle_hash")
        assert(verified.count() == 0L)
      } finally docs.unpersist(blocking = false)
    } finally rmrf(dir)
  }
}
