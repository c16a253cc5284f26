package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.TableIO

/** One stage of a run: its table (read back from the checkpoint), whether
  * this run recomputed it, and its wall in ms (0 when resumed). */
final case class StageResult(name: String, df: DataFrame, recomputed: Boolean, millis: Long)

/** The shared run-or-resume core of every checkpointed store
  * ([[DedupStages]], [[IvfIndex]], [[MipsIndex]]): a stage whose
  * manifest is present for exactly the given config hash is read back
  * untouched; otherwise the computation runs, [[TableIO.write]]
  * materializes it (manifest written LAST, so every crash window reads as
  * incomplete), and the stage is recorded as recomputed with its full
  * materialization wall. `extra` is BY-NAME, evaluated at write time — a
  * compute block may fill it with stats it derives mid-stage (the census
  * skew stats pattern). */
private[pipeline] final class StageRunner(spark: SparkSession, baseDir: String) {
  val stages = scala.collection.mutable.ArrayBuffer.empty[StageResult]

  def stage(name: String, hash: String, extra: => Map[String, String] = Map.empty)(
      compute: => DataFrame): StageResult = {
    val dir = s"$baseDir/$name"
    val res =
      if (TableIO.isComplete(dir, hash))
        StageResult(name, TableIO.read(spark, dir),
          recomputed = false, millis = 0L)
      else {
        val t0 = System.nanoTime()
        val df = compute
        TableIO.write(df, dir, name, hash, (System.nanoTime() - t0) / 1000000L, extra)
        StageResult(name, TableIO.read(spark, dir),
          recomputed = true, millis = (System.nanoTime() - t0) / 1000000L)
      }
    stages += res
    res
  }

  /** The manifest of one of this runner's stages, if it is written. */
  def manifest(name: String): Option[TableIO.Manifest] = TableIO.readManifest(s"$baseDir/$name")

  /** Append the basic per-stage telemetry row set (stage, rows, millis,
    * recomputed) to the store's metrics table — one row per stage per run,
    * append mode = build history. */
  def writeBasicMetrics(): Unit = {
    import spark.implicits._
    stages.toSeq.map { s =>
      (s.name, manifest(s.name).map(_.rows).getOrElse(-1L), s.millis, s.recomputed)
    }.toDF("stage", "rows", "millis", "recomputed")
      .write.mode("append").parquet(s"$baseDir/metrics")
  }
}

private[pipeline] object StageRunner {
  /** A stage's config hash, chained off the previous stage's: a change
    * upstream invalidates every stage after it. */
  def chainHash(prev: String, stage: String, salt: String): String =
    java.lang.Long.toHexString(graft.core.Rng.hashString(0x434B5054L, s"$prev|$stage|$salt"))

  /** The fingerprint's two aggregate Columns (row count, xor of per-row
    * xxhash64) — exposed so a caller with an existing aggregation job can
    * FUSE the fingerprint into it instead of paying a second job
    * (IncDirs.appendStages; each extra job is a fixed scheduling constant
    * on this VM). Every consumer must format via [[fingerprintString]] —
    * fingerprint formulas are invalidation-critical and must never drift
    * between the fused and standalone forms. */
  def fingerprintCols(cols: String*): (org.apache.spark.sql.Column, org.apache.spark.sql.Column) = (
    count(lit(1)).cast("long"),
    coalesce(expr(s"bit_xor(xxhash64(${cols.mkString(", ")}))"), lit(0L)))

  def fingerprintString(n: Long, x: Long): String = s"$n:$x"

  /** Order-independent input fingerprint over the named columns: row count
    * + xor of per-row xxhash64 — pointing a store at different input must
    * invalidate its whole chain. bit_xor over zero rows is NULL → coalesce,
    * so an empty input fingerprints cleanly. */
  def inputFingerprint(df: DataFrame, cols: String*): String = {
    val (n, x) = fingerprintCols(cols: _*)
    val r = df.agg(n.as("n"), x.as("x")).first()
    fingerprintString(r.getLong(0), r.getLong(1))
  }
}
