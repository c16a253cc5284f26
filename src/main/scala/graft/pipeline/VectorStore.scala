package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.TableIO

/** The two-stage vector-store protocol [[IvfIndex]] and [[MipsIndex]] are
  * both definitions of. A store holds a `vectors` stage (vec_id, quantized
  * v) and a chain of stages hashed off it, the last of which is the
  * SECOND stage — the one an append recomputes for its new rows (IVF:
  * `centroids` then `assignment`; MIPS: `bits`). Appends commit
  * `inc-k/{vectors,<second>}` snapshots through [[IncDirs]].
  *
  * An index supplies only its stages with their chain salts (`links`: each
  * stage's hash is `chainHash(prev, "<prefix>_<stage>", salt(cfg))`), the
  * config it reads back from the tags of the first linked stage's manifest
  * (`config` gets a required-tag reader), and, per append, the second
  * stage's compute. Validation, the base ∪ increments reads, the append
  * entry and the probe-by-ids path are written once, here.
  *
  * @param kind  "IVF" / "MIPS": names the store in every fail-fast message
  * @param prefix chain-salt prefix: base vectors hash under
  *        `<prefix>_vectors`, appends under `<prefix>_append_*`
  */
private[pipeline] final class VectorStore[C](
    kind: String, prefix: String,
    links: Seq[(String, C => String)],
    config: (String => String) => C) {
  import VectorStore._

  private val what = s"$kind store"
  private val rebuild = s"re-run ${kind.toLowerCase.capitalize}Index.build"
  private val (second, secondSalt) = links.last

  /** Hash of the base `vectors` stage: the input fingerprint (row count +
    * order-independent xor of per-row xxhash64 over vec_id and the FULL
    * embedding) — pointing a store at different vectors invalidates the
    * whole chain. */
  def vectorsHash(emb: DataFrame): String =
    StageRunner.chainHash("root", s"${prefix}_vectors",
      s"v1:${StageRunner.inputFingerprint(emb, "vec_id", "embedding")}")

  /** Expected hash of every stage after `vectors`, in chain order. */
  def chain(h0: String, cfg: C): Seq[(String, String)] =
    links.scanLeft(("vectors", h0)) { case ((_, prev), (stage, salt)) =>
      stage -> StageRunner.chainHash(prev, s"${prefix}_$stage", salt(cfg))
    }.tail

  /** Fail fast on a missing, partial or mixed-generation store:
    *  - every base stage has a manifest;
    *  - the stored hashes CHAIN off the vectors manifest under the tagged
    *    config — a stage rewritten under other input/config must not serve
    *    candidates from one index generation and vectors from another;
    *  - every committed `inc-k` (gap-free, manifest-complete:
    *    [[IncDirs.committed]]) records the current base tip as its `base`
    *    tag and chains its second stage off its own vectors stage. */
  def validate(baseDir: String): Valid[C] = {
    val manifests = ("vectors" +: links.map(_._1)).map { n =>
      n -> TableIO.readManifest(s"$baseDir/$n").getOrElse(
        throw new IllegalStateException(
          s"$what at $baseDir is incomplete: stage '$n' has no manifest " +
            s"(crashed or never-finished build) — $rebuild"))
    }.toMap
    val (tagged, tags) = (links.head._1, manifests(links.head._1).extra)
    val cfg = config(key => tags.getOrElse(key, throw new IllegalStateException(
      s"$what at $baseDir: $tagged manifest lacks the '$key' tag")))
    val expect = chain(manifests("vectors").configHash, cfg)
    expect.foreach { case (n, h) =>
      require(manifests(n).configHash == h,
        s"$what at $baseDir: stage '$n' was written for a different " +
          s"input/config than the current vectors stage (hash chain broken) — $rebuild")
    }
    val tip = expect.last._2
    val incs = IncDirs.committed(baseDir, Seq("vectors", second), what)
    incs.foreach { case (_, dir) =>
      val vm = TableIO.readManifest(s"$dir/vectors").get
      require(vm.extra.get("base").contains(tip),
        s"$what append at $dir was built against a DIFFERENT base " +
          s"generation (the base was rebuilt under other input/config since) " +
          s"— delete the inc-* dirs and re-append, or rebuild the store")
      require(TableIO.readManifest(s"$dir/$second").get.configHash ==
        StageRunner.chainHash(vm.configHash, s"${prefix}_append_$second", secondSalt(cfg)),
        s"$what append at $dir: $second does not chain off its own vectors " +
          s"stage (hash chain broken) — quarantine that increment")
    }
    Valid(cfg, tags, tip, incs)
  }

  /** Validate, then open `vectors` and the second stage as base ∪ incs. */
  def open(spark: SparkSession, baseDir: String): (Valid[C], DataFrame, DataFrame) = {
    graft.functions.GraftExpressions.register(spark)
    val s = validate(baseDir)
    (s, IncDirs.union(spark, baseDir, s.incs, "vectors"),
      IncDirs.union(spark, baseDir, s.incs, second))
  }

  /** Append new (vec_id, embedding) rows to a completed store without
    * touching its base: [[IncDirs.warnStray]], [[validate]], then
    * [[IncDirs.appendStages]] under the store's frozen config. `prepare`
    * gives the second stage's compute for that config. Zero genuinely-new
    * rows → nothing written (report with incDir = ""). */
  def append(spark: SparkSession, newEmb: DataFrame, baseDir: String)(
      prepare: Valid[C] => Second): AppendReport = {
    graft.functions.GraftExpressions.register(spark)
    IncDirs.warnStray(baseDir)
    val s = validate(baseDir)
    IncDirs.appendStages(spark, newEmb, baseDir, what, s.incs, s.tip,
      s"${prefix}_append", second, secondSalt(s.cfg), prepare(s))
  }
}

object VectorStore {

  final case class AppendReport(
      incDir: String, newVectors: Long, droppedDupOrStored: Long,
      stages: Seq[StageResult])

  /** A validated store: its config, every tag of the manifest it was read
    * from, the hash of its last base stage (the `base` tag every increment
    * must carry), and its committed increments. */
  private[pipeline] final case class Valid[C](
      cfg: C, tags: Map[String, String], tip: String, incs: Seq[(Int, String)])

  /** An append's second stage: its compute over the new rows, and an
    * optional aggregate over them (`stat`) fused into the append's count
    * job and handed to `check` before anything is written. */
  private[pipeline] final case class Second(
      compute: DataFrame => DataFrame,
      stat: Option[Column] = None,
      check: Long => Unit = _ => ())

  /** The probe rows of a (vec_id) relation: `vectors` broadcast-semi-joined
    * to the distinct ids. Callers guarantee the id relation is small (the
    * CLI counts it first).
    *  - An empty id relation short-circuits to `vectors.limit(0)` before the
    *    join is planned: evaluating broadcast(empty) is the ~513 MiB
    *    phantom-broadcast trap.
    *  - distinct: a duplicated id (an upstream retry) would ride the inner
    *    join into duplicate probe rows — IVF would rank the same cell at
    *    prk 1 and 2, halving nprobe, MIPS would burn rnk ≤ k slots, and
    *    both would repeat (probe_id, vec_id) rows. */
  private[pipeline] def probeVectors(vectors: DataFrame, probeIds: DataFrame): DataFrame =
    if (probeIds.limit(1).count() == 0) vectors.limit(0)
    else vectors.join(broadcast(probeIds.select(col("vec_id")).distinct()), "vec_id")
}
