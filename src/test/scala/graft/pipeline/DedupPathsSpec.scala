package graft.pipeline

import java.nio.file.{Files, Path}
import java.util.Comparator

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.TableIO
import graft.testkit.PagesGen

/** The in-memory pipeline (`Dedup.nearDupPairs`) and the checkpointed one
  * (`CheckpointedDedup.run`) find the same verified pairs with the same
  * exact Jaccard: both run one candidate step and one Jaccard kernel. The
  * in-memory path is fed the checkpointed `docs` stage, so both key on the
  * same doc ids. */
class DedupPathsSpec extends AnyFunSuite {
  lazy val spark = graft.spark.TestSpark.spark
  val cfg = DedupConfig(seed = 42L)

  private def rmrf(dir: String): Unit = {
    val walk = Files.walk(Path.of(dir))
    try walk.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally walk.close()
  }

  private def rows(df: DataFrame): Seq[(Long, Long, Double)] =
    df.select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted

  /** Both paths over `pages`; returns the checkpointed pairs (asserted equal
    * to the in-memory ones, row for row) and the census manifest extras. */
  private def bothPaths(
      pages: DataFrame, cfg: DedupConfig): (Seq[(Long, Long, Double)], Map[String, String]) = {
    val dir = Files.createTempDirectory("graft-paths").toString
    try {
      val ckpt = rows(CheckpointedDedup.run(spark, pages, cfg, dir).verifiedPairs)
      val docs = TableIO.read(spark, s"$dir/docs").select("id", "text")
      val (inMemory, caches) = Dedup.nearDupPairsWithHandle(docs, cfg)
      val mem = try rows(inMemory) finally caches.foreach(_.unpersist(blocking = false))
      assert(mem == ckpt, s"in-memory ${mem.size} pairs vs checkpointed ${ckpt.size}")
      (ckpt, TableIO.readManifest(s"$dir/census").get.extra)
    } finally rmrf(dir)
  }

  test("in-memory ≡ checkpointed verified pairs on a PagesGen corpus") {
    val (pairs, census) = bothPaths(PagesGen.pages(spark, 300, 0L, 4), cfg)
    assert(pairs.nonEmpty)
    assert(census("cappedBuckets") == "0")
  }

  test("in-memory ≡ checkpointed verified pairs through the salted hot-bucket branch") {
    val session = spark
    import session.implicits._
    val hotText = (1 to 90).map(i => s"boiler$i word$i").mkString(" ")
    // 40 identical pages (every band bucket hot under cap 10) + 20 distinct:
    // every pair among the copies can only come from the salted branch
    val pages = ((0 until 40).map(i => (s"https://dup.example/p$i", hotText)) ++
      (100 until 120).map(i => (s"https://solo.example/p$i",
        (1 to 60).map(j => s"doc${i}w$j").mkString(" ")))).toDF("url", "text")
    val (pairs, census) = bothPaths(pages, cfg.copy(maxBucket = 10, saltWindow = 4))
    assert(census("cappedBuckets").toLong > 0, "fixture has no over-cap bucket")
    assert(pairs.nonEmpty && pairs.forall(_._3 == 1.0))
  }
}
