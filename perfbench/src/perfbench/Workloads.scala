package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.zip.CRC32

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.pipeline.{CheckpointedDedup, DedupConfig, IncrementalDedup}
import graft.sources.TableIO
import graft.testkit.PagesGen

/** What the harness hands to a workload. `probe` is set only in a traced run. */
final case class Ctx(
    spark: SparkSession, seed: Long, work: String, cores: Int, tiny: Boolean,
    corrupt: Boolean, tracer: Tracer, probe: Option[EngineProbe], golden: Map[String, String])

/** One timed call and what its checks found. A unit that threw or failed a
  * check is kept for `attempted`/`failed` but its wall is never used.
  * `netWallS` is the wall with the host's stolen share taken out (`Steal`). */
final case class Outcome(
    wallS: Double, netWallS: Double, cpuS: Double, ok: Boolean, recall: Double,
    storeRatio: Double, layer: Map[String, Double], note: String)

object Outcome {
  def failed(note: String): Outcome =
    Outcome(0.0, 0.0, 0.0, ok = false, 0.0, 0.0, Map.empty, note)
}

abstract class Workload(val ctx: Ctx) {
  def spark: SparkSession = ctx.spark
  /** Generate this run's input from the seed, write it, read it back. */
  def prepareInput(): Unit
  /** Once, after the input: JIT/codegen warm-up and any base state. */
  def warmUp(): Unit
  def inputDocs: Long
  def unit(i: Int): Outcome
}

object Files2 {
  private def walk(p: Path): Seq[Path] =
    if (!Files.exists(p)) Seq.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq.sorted
      finally s.close()
    }

  def bytes(dir: String): Long = walk(Paths.get(dir)).map(Files.size).sum

  def delete(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
  }

  def copy(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { p =>
      val t = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.COPY_ATTRIBUTES)
    }
    finally s.close()
  }

  /** Relative path, size and CRC32 of every file under `dir`. */
  def fingerprint(dir: String): String = {
    val root = Paths.get(dir)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    walk(root).foreach { p =>
      val crc = new CRC32
      crc.update(Files.readAllBytes(p))
      md.update(s"${root.relativize(p)}:${Files.size(p)}:${crc.getValue}\n".getBytes("UTF-8"))
    }
    md.digest().map("%02x".format(_)).mkString
  }
}

/** Checks and per-layer numbers shared by the two store workloads. */
object Store {
  val Stages = Seq("docs", "shingles", "signatures", "bands", "census",
    "candidates", "verified_pairs", "clusters")

  def manifest(dir: String): TableIO.Manifest =
    TableIO.readManifest(dir).getOrElse(sys.error(s"no manifest at $dir"))

  /** PagesGen id of a store doc, parsed from its url; boilerplate docs map
    * to their own ids under a separate host. */
  private val PageUrl = """https://site-\d+\.example/page-(\d+)""".r
  private val BoilerUrl = """https://boilerplate\.example/page-(\d+)""".r
  def boilerUrl(id: Long): String = s"https://boilerplate.example/page-$id"

  final case class Docs(planted: Map[Long, Long], boiler: Seq[Long])

  def docs(spark: SparkSession, dir: String): Docs = {
    val rows = spark.read.parquet(s"$dir/data").select("id", "url").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    Docs(
      rows.collect { case (id, PageUrl(g)) => g.toLong -> id }.toMap,
      rows.collect { case (id, BoilerUrl(_)) => id }.toSeq)
  }

  def pairs(spark: SparkSession, dir: String): Set[(Long, Long)] =
    spark.read.parquet(s"$dir/data").select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  def clusters(spark: SparkSession, dir: String): Map[Long, Long] =
    spark.read.parquet(s"$dir/data").select("id", "cluster_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap

  /** Share of PagesGen's planted pairs among the first `n` generated ids
    * that the verified pairs hold. */
  def recall(d: Docs, verified: Set[(Long, Long)], n: Long): Double = {
    val planted = PagesGen.plantedPairs(n).map { case (a, b) =>
      val (x, y) = (d.planted(a), d.planted(b))
      (math.min(x, y), math.max(x, y))
    }
    if (planted.isEmpty) 1.0 else planted.count(verified).toDouble / planted.size
  }

  /** Order-independent fingerprint of a cluster assignment. */
  def clusterFingerprint(c: Map[Long, Long]): String = {
    val x = c.iterator.map { case (id, cl) => java.lang.Long.rotateLeft(id * 0x9E3779B97F4A7C15L, 17) ^ cl }
      .foldLeft(0L)(_ + _)
    s"${c.size}:${java.lang.Long.toHexString(x)}"
  }

  /** Moves one doc to a cluster of its own: a wrong answer for the gates. */
  def corruptClusters(spark: SparkSession, stageDir: String, victim: Long): Unit = {
    val data = s"$stageDir/data"
    val bad = s"$stageDir/data-corrupt"
    spark.read.parquet(data)
      .withColumn("cluster_id", when(col("id") === victim, col("id") + 1).otherwise(col("cluster_id")))
      .write.parquet(bad)
    Files2.delete(data)
    Files.move(Paths.get(bad), Paths.get(data))
  }

  /** Per checkpoint stage: manifest wall and rows, bytes on disk, and the
    * task time and shuffle bytes of the Spark stages submitted while it was
    * in flight. A stage is in flight from the previous stage's manifest
    * write to its own. Also records one span per checkpoint stage. */
  def stageLayer(root: String, call: Timed[_], ctx: Ctx): Map[String, Double] = ctx.probe match {
    case None => Map.empty
    case Some(probe) =>
      val ends = Stages.map(s =>
        Files.getLastModifiedTime(Paths.get(s"$root/$s/_manifest.json")).toMillis)
      val spans = Stages.zip(call.startMs +: ends.init).zip(ends)
      val sparkStages = probe.listener.stages.map(_._1)
      val jobs = probe.listener.jobs
      def in(t: Long, lo: Long, hi: Long, first: Boolean) = (if (first) t >= lo else t > lo) && t <= hi
      val mb = 1024.0 * 1024.0
      spans.zipWithIndex.flatMap { case (((s, lo), hi), i) =>
        val mine = sparkStages.filter(r => in(r.submitMs, lo, hi, i == 0))
        val m = manifest(s"$root/$s")
        def ns(ms: Long) = call.startNs + (ms - call.startMs) * 1000000L
        ctx.tracer.record(s"stage $s", call.span, ns(lo), ns(hi))
        Seq(
          s"$s.wall_s" -> m.wallMillis / 1000.0,
          s"$s.rows" -> m.rows.toDouble,
          s"$s.task_s" -> mine.map(_.taskMs).sum / 1000.0,
          s"$s.shuffle_mb" -> mine.map(_.shuffleWrite).sum / mb,
          s"$s.mb" -> Files2.bytes(s"$root/$s") / mb) ++
          (if (s == "clusters") Seq("clusters.jobs" ->
            jobs.count(t => in(t, lo, hi, first = false)).toDouble) else Nil)
      }.toMap ++ {
        val census = manifest(s"$root/census").extra
        Map(
          "census.capped_buckets" -> census.get("cappedBuckets").map(_.toDouble).getOrElse(0.0),
          "census.max_bucket" -> census.get("maxBucketSize").map(_.toDouble).getOrElse(0.0),
          "candidates.precision" -> manifest(s"$root/verified_pairs").rows.toDouble /
            math.max(1L, manifest(s"$root/candidates").rows))
      }
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds used by this JVM, all threads. */
  def cpuS: Double = os.getProcessCpuTime / 1e9

  final case class Timed[T](result: T, wallS: Double, cpuS: Double, stolen: Double,
      startMs: Long, startNs: Long, span: Int) {
    def netWallS: Double = wallS * (1.0 - stolen)
  }

  /** Time one engine call: wall, process CPU, stolen share, and its span. */
  def timed[T](ctx: Ctx, name: String)(f: => T): Timed[T] = {
    val startMs = System.currentTimeMillis()
    val s0 = Steal.ticks()
    val c0 = cpuS
    val t0 = System.nanoTime()
    var spanId = -1
    val r = ctx.tracer.span(name) { spanId = ctx.tracer.current; f }
    Timed(r, (System.nanoTime() - t0) / 1e9, cpuS - c0, Steal.share(s0, Steal.ticks()),
      startMs, t0, spanId)
  }
}

/** The host's stolen time, from the machine-wide "cpu" line of /proc/stat:
  * ticks a vCPU wanted to run but the hypervisor gave to another tenant.
  * `share` is stolen ÷ (busy + stolen) over an interval, so wall × (1 − share)
  * is the interval as it would have run with all the CPU it asked for. Both
  * a latency-bound call (one busy core) and a CPU-bound one (all cores) lose
  * that share of their running time. Reads 0 where /proc/stat is missing. */
object Steal {
  /** (busy, stolen) ticks: user + nice + system + irq + softirq, and steal. */
  def ticks(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      require(f(0) == "cpu" && f.length > 8)
      val t = f.drop(1).map(_.toLong)
      (t(0) + t(1) + t(2) + t(5) + t(6), t(7))
    } catch { case scala.util.control.NonFatal(_) => (0L, 0L) }

  def share(from: (Long, Long), to: (Long, Long)): Double = {
    val busy = to._1 - from._1
    val stolen = to._2 - from._2
    if (busy + stolen <= 0) 0.0 else stolen.toDouble / (busy + stolen)
  }
}

/** The store's life in one unit, both calls timed:
  *  1. `CheckpointedDedup.run` (the `dedup` CLI job) into a fresh store over
  *     a PagesGen corpus whose leading block is boilerplate, at a bucket cap
  *     low enough that the boilerplate buckets go through census cap →
  *     salted cells → one big component;
  *  2. `IncrementalDedup.run` (the `increment` CLI job) of the corpus's last
  *     block-split slice onto a base store built in set-up without it. The
  *     base store is restored to its fingerprinted state before every unit,
  *     so every unit writes `inc-1` onto identical bytes. The new docs touch
  *     no capped bucket: this call bypasses salting.
  * The full build of call 1 is the from-scratch truth that call 2's union
  * clusters must equal. */
final class Dedup(c: Ctx) extends Workload(c) {
  val nBoiler: Long = if (ctx.tiny) 40L else 64L
  val nPages: Long = if (ctx.tiny) 480L else 2400L
  val nInc: Long = if (ctx.tiny) 80L else 400L
  val cfg = DedupConfig(maxBucket = if (ctx.tiny) 8 else 16)
  private def in(s: String) = s"${ctx.work}/input/$s"
  private val pristine = s"${ctx.work}/base-store"
  private val full = s"${ctx.work}/full-store"
  private val store = s"${ctx.work}/store"
  private var baseFingerprint = ""
  private var fingerprint: Option[String] = None
  def inputDocs: Long = nBoiler + nPages + nInc

  /** ids below nBoiler are boilerplate; the rest are PagesGen ids shifted
    * by nBoiler. The increment is the last nInc PagesGen ids. */
  def prepareInput(): Unit = {
    val session = spark
    import session.implicits._
    val (seed, nb) = (ctx.seed, nBoiler)
    val pages = spark.range(0L, nb + nPages, 1L, ctx.cores).map { id =>
      val page =
        if (id < nb) {
          val text = PagesGen.boilerplateText(seed, id)
          PagesGen.Page(Store.boilerUrl(id), new java.sql.Timestamp(1700000000000L + id),
            ("<html><body>" + text + "</body></html>").getBytes("UTF-8"), text, "en")
        } else PagesGen.pageFor(seed, id - nb)
      (id.longValue, page)
    }.toDF("gid", "page").select("gid", "page.*")
    val cut = nb + nPages - nInc
    pages.where(col("gid") < cut).drop("gid").write.mode("overwrite").parquet(in("base"))
    pages.where(col("gid") >= cut).drop("gid").write.mode("overwrite").parquet(in("inc"))
    require(spark.read.parquet(in("base")).count() == cut)
    require(spark.read.parquet(in("inc")).count() == nInc)
  }

  private def union = spark.read.parquet(in("base")).unionByName(spark.read.parquet(in("inc")))

  private def restore(): Boolean = {
    Files2.delete(store)
    Files2.copy(pristine, store)
    Files2.fingerprint(store) == baseFingerprint
  }

  /** The base store, which is also the build's JIT/codegen warm-up. The
    * increment is not warmed: like the `increment` CLI, each run's first
    * increment is the first one its JVM makes. */
  def warmUp(): Unit = {
    Files2.delete(pristine)
    CheckpointedDedup.run(spark, spark.read.parquet(in("base")), cfg, pristine)
    baseFingerprint = Files2.fingerprint(pristine)
  }

  def unit(i: Int): Outcome = {
    Files2.delete(full)
    ctx.probe.foreach(_.begin())
    val build = Store.timed(ctx, "CheckpointedDedup.run")(CheckpointedDedup.run(spark, union, cfg, full))
    if (!restore()) return Outcome.failed("base store restore mismatch")
    val incCall = Store.timed(ctx, "IncrementalDedup.run") {
      IncrementalDedup.run(spark, spark.read.parquet(in("inc")), cfg, store)
    }
    val (rep, buildWall, incWall) = (incCall.result, build.wallS, incCall.wallS)
    val inc = s"$store/inc-1"
    val engine = ctx.probe.map(_.end(buildWall + incWall)).getOrElse(Map.empty)

    // build: planted-pair recall, boilerplate = exactly one cluster, stable fingerprint
    val docs = Store.docs(spark, s"$full/docs")
    if (ctx.corrupt) Store.corruptClusters(spark, s"$inc/clusters", docs.planted(nPages - 1))
    val clusters = Store.clusters(spark, s"$full/clusters")
    val recall = Store.recall(docs, Store.pairs(spark, s"$full/verified_pairs"), nPages)
    val boilerClusters = docs.boiler.map(clusters).distinct
    val oneBoilerCluster = boilerClusters.size == 1 &&
      clusters.values.count(_ == boilerClusters.head) == nBoiler
    val fp = Store.clusterFingerprint(clusters)
    val stable = fingerprint.forall(_ == fp) && ctx.golden.get("dedup").forall(_ == fp)
    if (fingerprint.isEmpty) fingerprint = Some(fp)
    // increment: union clusters equal the from-scratch build, same recall gate
    val incClusters = Store.clusters(spark, s"$inc/clusters")
    val incRecall = Store.recall(docs, Store.pairs(spark, s"$inc/verified_pairs"), nPages)
    val same = incClusters == clusters

    val layer = engine ++ Store.stageLayer(full, build, ctx) ++
      Store.stageLayer(inc, incCall, ctx).collect {
        case (k, v) if k.endsWith(".wall_s") => s"inc.$k" -> v
      } ++ Map(
        "inc.pairs_verified" -> rep.pairsVerified.toDouble,
        "inc.new_docs" -> rep.newDocs.toDouble,
        "inc.call_wall_s" -> incWall,
        "build.call_wall_s" -> buildWall)
    val written = Files2.bytes(full) + Files2.bytes(store) - Files2.bytes(pristine)
    val ratio = written.toDouble / (Files2.bytes(in("base")) + 2 * Files2.bytes(in("inc")))
    val ok = recall >= 0.99 && oneBoilerCluster && stable && same && incRecall >= 0.99 &&
      rep.newDocs == nInc
    Outcome(buildWall + incWall, build.netWallS + incCall.netWallS, build.cpuS + incCall.cpuS, ok,
      math.min(recall, incRecall), ratio, layer + ("trace.steal_share" ->
        (1.0 - (build.netWallS + incCall.netWallS) / (buildWall + incWall))),
      f"build_s=$buildWall%.3f inc_s=$incWall%.3f recall=$recall inc_recall=$incRecall " +
        s"boilerplate_clusters=${boilerClusters.size} inc_equals_build=$same fingerprint=$fp stable=$stable")
  }
}

/** One pass of every `SparkEntry.queries` entry over seeded tables, each
  * result written to parquet and compared with the DuckDB oracle after the
  * run. The pass is the first one its JVM makes, as a one-shot job of these
  * queries runs: codegen compiles and JIT warm-up fall inside the timed
  * calls, where `spark.codegen_compile_s` attributes them. */
final class Queries(c: Ctx, tables: String) extends Workload(c) {
  private val names = SparkEntry.queries.keys.toSeq.sorted
  private val outRoot = s"${ctx.work}/qout"
  def inputDocs: Long = spark.read.parquet(s"$tables/documents.parquet").count()

  /** The tables are generated before the JVM starts (tablegen.py). */
  def prepareInput(): Unit = ()

  def warmUp(): Unit = {
    Files.createDirectories(Paths.get(outRoot))
    Files.writeString(Paths.get(s"$outRoot/oracle_sql.json"), Json.obj(SparkEntry.oracleSql))
  }

  private def pass(out: String): Seq[(String, Double)] =
    names.map { n =>
      val t0 = System.nanoTime()
      ctx.tracer.span(s"query $n") {
        SparkEntry.queries(n)(spark, tables).write.mode("overwrite").parquet(s"$out/$n")
      }
      val wall = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      n -> wall
    }

  def unit(i: Int): Outcome = {
    val out = s"$outRoot/pass-$i"
    ctx.probe.foreach(_.begin())
    val timed = Store.timed(ctx, "SparkEntry.queries pass")(pass(out))
    val walls = timed.result
    val wall = walls.map(_._2).sum
    val engine = ctx.probe.map(_.end(wall)).getOrElse(Map.empty)
    if (ctx.corrupt) {
      // one wrong row in one result: the oracle compare must catch it
      val q = s"$out/q_join_agg"
      spark.read.parquet(q).withColumn("n_orders", col("n_orders") + 1)
        .write.parquet(s"$q-corrupt")
      Files2.delete(q)
      Files.move(Paths.get(s"$q-corrupt"), Paths.get(q))
    }
    def pairs(q: String, minJ: Double): Set[(Long, Long)] =
      spark.read.parquet(s"$out/$q").where(col("jaccard") >= minJ).select("doc_a", "doc_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs("q_ngram_jaccard_pairs", SparkEntry.lshConfig.threshold)
    val lsh = pairs("q_minhash_lsh_pairs", 0.0)
    val recall = if (exact.isEmpty) 1.0 else exact.count(lsh).toDouble / exact.size
    val layer = engine ++ walls.map { case (n, w) => s"q.$n.wall_s" -> w }
    val ratio = Files2.bytes(out).toDouble / Files2.bytes(tables)
    Outcome(wall, wall * (1.0 - timed.stolen), timed.cpuS, ok = true, recall, ratio,
      layer + ("trace.steal_share" -> timed.stolen), s"recall=$recall pass_dir=$out")
  }
}
