package graft.pipeline

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.SignAlshRetrieval.MipsPlan
import graft.spark.TestSpark

/** The fail-fast validator of the one vector-store protocol
  * ([[VectorStore.validate]]), run from ONE test body against each store
  * that defines itself over it. Every case corrupts a built-and-appended
  * store the way a crash, an operator or a rebuild would, asserts the
  * named error from both the query and the append entry, and restores the
  * store before the next case. */
class VectorStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** One store under test: build under a config (two configs give two base
    * generations), append, query by an id relation, and its second stage. */
  private final class Store(
      val name: String,
      val second: String,
      val build: (DataFrame, String, Boolean) => Unit,
      val append: (DataFrame, String) => Unit,
      val query: (String, DataFrame) => (DataFrame, Seq[DataFrame]))

  private val stores = Seq(
    new Store("IVF", "assignment",
      (emb, dir, other) => IvfIndex.build(spark, emb, dir, nCells = if (other) 9 else 7),
      (emb, dir) => IvfIndex.append(spark, emb, dir),
      (dir, ids) => IvfIndex.topKWithHandle(spark, dir, ids)),
    new Store("MIPS", "bits",
      (emb, dir, other) => MipsIndex.build(spark, emb, dir,
        Some(if (other) MipsPlan(2, 16, 5) else MipsPlan(3, 16, 6))),
      (emb, dir) => MipsIndex.append(spark, emb, dir),
      (dir, ids) => MipsIndex.topKWithHandle(spark, dir, ids)))

  // 200 vectors; the append drop copies 40 of them under fresh ids, so its
  // norms stay inside the MIPS store's frozen maxnorm
  private def emb: DataFrame = spark.range(0L, 200L, 1L, 4).select(col("id").as("vec_id"),
    expr("transform(sequence(0, 15), i -> cast(sin(id * 7 + i) as float))").as("embedding"))
  private def drop: DataFrame =
    emb.where(col("vec_id") < 40).withColumn("vec_id", col("vec_id") + 1000L)

  stores.foreach { s =>
    test(s"${s.name}: every validator case fails fast") {
      import spark.implicits._
      val dir = Files.createTempDirectory(s"graft-vstore-${s.name}").toString
      val ids = Seq(0L, 1L, 1000L).toDF("vec_id")
      def rows(): Long = {
        val (df, pinned) = s.query(dir, ids)
        try df.count() finally pinned.foreach(_.unpersist(blocking = false))
      }
      def fails[E <: Exception](fragments: String*)(implicit m: scala.reflect.ClassTag[E]): Unit =
        Seq[() => Any](() => rows(), () => s.append(drop, dir)).foreach { call =>
          val e = intercept[E](call())
          fragments.foreach(f => assert(e.getMessage.contains(f), s"'$f' not in: ${e.getMessage}"))
        }
      /** Runs `body` (which may change or delete `p`), then restores `p`. */
      def restoring(p: Path)(body: => Unit): Unit = {
        val saved = Files.readAllBytes(p)
        try body finally Files.write(p, saved)
      }
      def wrongHash(manifest: Path): Unit =
        Files.writeString(manifest, Files.readString(manifest)
          .replaceFirst("(\"configHash\"\\s*:\\s*\")[^\"]*", "$1deadbeef"))
      def moved(from: String, to: String)(body: => Unit): Unit = {
        Files.move(Paths.get(dir, from), Paths.get(dir, to))
        try body finally Files.move(Paths.get(dir, to), Paths.get(dir, from))
      }

      // missing manifest: nothing built yet
      fails[IllegalStateException]("no manifest")

      s.build(emb, dir, false)
      s.append(drop, dir)
      assert(rows() > 0)
      val incSecond = Paths.get(dir, "inc-1", s.second, "_manifest.json")
      val baseSecond = Paths.get(dir, s.second, "_manifest.json")

      // PARTIAL: an increment without its second stage's manifest
      restoring(incSecond) {
        Files.delete(incSecond)
        fails[IllegalArgumentException]("PARTIAL", "inc-1")
      }
      // GAP: inc-1 missing while inc-2 exists
      moved("inc-1", "inc-2") { fails[IllegalArgumentException]("GAP") }
      // broken chain, base: the second stage rewritten under another input/config
      restoring(baseSecond) {
        wrongHash(baseSecond)
        fails[IllegalArgumentException]("hash chain broken")
      }
      // broken chain, increment: its second stage does not chain off its vectors
      restoring(incSecond) {
        wrongHash(incSecond)
        fails[IllegalArgumentException]("hash chain broken", "inc-1")
      }
      // strays (inc-0, the leading-zero inc-01, a staging dir) are never
      // engine-written: ignored, not read as a gap or a duplicate inc-1
      Seq("inc-0", "inc-01", "inc-2.tmp-0000").foreach(d =>
        Files.createDirectories(Paths.get(dir, d)))
      assert(rows() > 0)
      // foreign base generation: the base rebuilt under another config
      s.build(emb, dir, true)
      fails[IllegalArgumentException]("DIFFERENT base generation")
      spark.catalog.clearCache()
    }
  }
}
