package graft.tools

import java.nio.file.{Files, Path}
import java.util.Comparator

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.pipeline.{CheckpointedDedup, Decontaminate, Dedup, DedupConfig, DedupStages,
  IncrementalDedup, IvfIndex, MipsIndex, StageResult}
import graft.sources.TableIO
import graft.testkit.PagesGen

/** The scale-probe driver: one workload at two core levels (the north
  * rule's two-cluster-size criterion run on one host), or at one level
  * when coresA == coresB.
  *
  * Usage: runMain graft.tools.Probe <workload> [n] [coresA] [coresB] [reps]
  * (defaults 200000 2 8 2; workloads: [[Workloads]]' keys).
  *
  * Protocol, owned here once:
  *  - each core level runs in a fresh session (stop + rebuild) whose
  *    shuffle partitions scale with cores, as a real cluster's would;
  *  - two warm-up calls at n first — JIT of generated code costs 5-20×
  *    on the first iterations in this JVM, and calls at n/8 left it cold
  *    for n (the timed calls kept falling rep after rep);
  *  - the level's time is the min over `reps` calls at n; every call's
  *    wall (`rep_sec`) and their median (`median_sec`) are printed beside
  *    it, so a difference can be judged against the spread of the reps;
  *  - efficiency = (T_A / T_B) / (B / A), target ≥ 0.8 at B = 4A; docs/s =
  *    n / T at the last level.
  * Prints ONE JSON line — it writes no file. The workload's own fields in
  * it come from the last level's fastest call.
  *
  * A workload is one function (session, n, cores) => [[Result]]. Its wall
  * is its timed region: input synthesis that the recorded protocol kept
  * untimed (cached vectors, a store build, a written corpus) stays out. */
object Probe {

  final case class Result(wall: Double, fields: Seq[(String, Any)])
  type Workload = (SparkSession, Long, Int) => Result

  private val cfg: DedupConfig = SparkEntry.lshConfig
  /** Decontamination eval slice: every EvalMod-th doc. */
  private val EvalMod = 1000L

  def main(args: Array[String]): Unit = {
    // the JSON line is machine-parsed: format numbers locale-independently
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    require(args.nonEmpty && Workloads.contains(args(0)),
      s"usage: Probe <workload> [n] [coresA] [coresB] [reps]; workloads: " +
        Workloads.keys.mkString(", "))
    val name = args(0)
    val n = if (args.length > 1) args(1).toLong else 200000L
    val coresA = if (args.length > 2) args(2).toInt else 2
    val coresB = if (args.length > 3) args(3).toInt else 8
    val reps = if (args.length > 4) args(4).toInt else 2
    val levels = if (coresA == coresB) Seq(coresA) else Seq(coresA, coresB)
    val runs = levels.map { cores =>
      val spark = graft.GraftSession.get(cores, s"probe-$name-$cores")
      try {
        def call(m: Long): Result = {
          val r = Workloads(name)(spark, m, cores)
          println(f"[probe] $name cores=$cores n=$m wall=${r.wall}%.2f s")
          r
        }
        call(n); call(n)
        (1 to reps).map(_ => call(n))
      } finally spark.stop()
    }
    val walls = runs.map(_.map(_.wall))
    val best = runs.map(_.minBy(_.wall))
    val t = best.map(_.wall)
    val eff =
      if (levels.size == 2) Seq("efficiency" -> (t(0) / t(1)) / (coresB.toDouble / coresA))
      else Nil
    println(json(Seq("metric" -> "probe", "workload" -> name, "n" -> n,
      "cores" -> levels, "reps" -> reps, "t_sec" -> t, "rep_sec" -> walls,
      "median_sec" -> walls.map(median)) ++ eff ++
      Seq("docs_per_sec" -> n / t.last) ++ best.last.fields))
  }

  /** Every workload by name. A recorded argument with two values became
    * two names (incremental split and text width, decon store mode,
    * bigsmoke boilerplate count); BENCH/BASELINE.md maps each recorded
    * command of the retired per-workload mains to its Probe invocation. */
  val Workloads: ListMap[String, Workload] = ListMap(
    "dedup" -> (dedup _),
    "dedup-ckpt" -> (dedupCkpt _),
    "ivf" -> (ivf _),
    "store" -> (store _),
    "decon" -> onCorpus(decon),
    "decon-ckpt" -> (deconCkpt _),
    "winnow" -> onCorpus(winnow),
    "paragraph" -> onCorpus(paragraph),
    "repetition" -> onCorpus(repetition),
    "incremental-cross" -> incremental(textScale = 10, block = false),
    "incremental-block" -> incremental(textScale = 10, block = true),
    "incremental-short" -> incremental(textScale = 1, block = false),
    "bigsmoke" -> bigSmoke(0L),
    "bigsmoke-skew20k" -> bigSmoke(20000L),
    "bigsmoke-skew50k" -> bigSmoke(50000L))

  /** 64-d vectors in 4-member near-duplicate clusters: base coords from the
    * cluster id, ±0.01 member noise — probed cells and buckets hold genuine
    * neighbours, so reranks emit pairs, not empty frames. */
  private[tools] def vectors(spark: SparkSession, n: Long, partitions: Int): DataFrame =
    spark.range(0, n, 1, partitions).toDF("vec_id")
      .select(col("vec_id"), (col("vec_id") / 4).cast("long").as("cid"))
      .select(col("vec_id"), expr(
        """transform(sequence(0, 63), i -> cast(
           ((pmod(xxhash64(concat(cast(cid as string), ':', cast(i as string))), 2001) - 1000) / 1000.0
            + (pmod(xxhash64(concat(cast(vec_id as string), '#', cast(i as string))), 21) - 10) / 1000.0)
           as float))""").as("embedding"))

  private def corpus(spark: SparkSession, n: Long, cores: Int): DataFrame =
    PagesGen.corpus(spark, n, seed = 0L, partitions = cores * 4)

  /** A leg over the (id, text) PagesGen corpus, generated lazily inside the
    * timed unit. */
  private def onCorpus(f: DataFrame => Result): Workload = (s, n, c) => f(corpus(s, n, c))

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Times `body`, then drops every cache it pinned, so reps and legs stay
    * independent. */
  private def leg(spark: SparkSession)(body: => Seq[(String, Any)]): Result = {
    val (fields, w) = timed(body)
    spark.catalog.clearCache()
    Result(w, fields)
  }

  private def rmrf(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally walk.close()
    }

  private def withTmp[A](prefix: String)(f: String => A): A = {
    val dir = Files.createTempDirectory(prefix)
    try f(dir.toString) finally rmrf(dir)
  }

  /** The in-memory near-dup pipeline (shingle → minhash → band → census/cap
    * → candidates → exact Jaccard verify → connected components; the LCS
    * pass runs only in the stores), corpus generation inside the timed
    * unit. */
  private def dedup(spark: SparkSession, n: Long, cores: Int): Result =
    leg(spark)(Seq("rows" -> Dedup.clusters(corpus(spark, n, cores), cfg).count()))

  /** The same pipeline checkpointed (per-stage parquet + manifests); the
    * per-stage walls attribute the run. */
  private def dedupCkpt(spark: SparkSession, n: Long, cores: Int): Result =
    withTmp("graft-probe-ckpt") { dir =>
      leg(spark) {
        val rep = CheckpointedDedup.run(
          spark, PagesGen.pages(spark, n, seed = 0L, partitions = cores * 4), cfg, dir)
        Seq("rows" -> rep.docs, "stage_ms" -> rep.stages.map(s => s.name -> s.millis))
      }
    }

  /** The IVF ANN operator (SparkEntry.ivfTopK, ⌈√n⌉ cells, 32 probes):
    * quantization, centroid sample, O(n·C·d) assignment, probing, exact
    * rerank. The vectors are cached untimed — their per-element string +
    * xxhash64 synthesis would otherwise dominate the timed region. */
  private def ivf(spark: SparkSession, n: Long, cores: Int): Result = {
    val emb = vectors(spark, n, cores * 4).cache()
    emb.count()
    val nCells = math.ceil(math.sqrt(n.toDouble)).toInt
    leg(spark)(Seq(
      "rows" -> SparkEntry.ivfTopKWithHandle(emb, col("vec_id") < 32, nCells)._1.count(),
      "cells" -> nCells))
  }

  /** Build once, query many, append a 1/8 drop — for both checkpointed
    * retrieval stores. Delta vectors reuse base embeddings under fresh ids,
    * so the MIPS frozen-maxnorm guard passes by construction. Wall = builds,
    * queries and appends; the fields split it. */
  private def store(spark: SparkSession, n: Long, cores: Int): Result =
    withTmp("graft-probe-store") { root =>
      val emb = vectors(spark, n, cores * 4).cache()
      emb.count()
      val nDelta = math.max(1L, n / 8)
      val delta = emb.where(col("vec_id") < nDelta).withColumn("vec_id", col("vec_id") + n).cache()
      delta.count()
      val probes = spark.range(32).select(col("id").as("vec_id"))
      def query(topK: => (DataFrame, Seq[DataFrame])): Double = {
        val ((rows, pinned), w) = timed { val (df, p) = topK; (df.count(), p) }
        pinned.foreach(_.unpersist(blocking = false))
        require(rows > 0, "store query returned no rows")
        w
      }
      def stageMs(st: Seq[StageResult]) = st.map(s => s.name -> s.millis)
      leg(spark) {
        val nCells = math.ceil(math.sqrt(n.toDouble)).toInt
        val (_, ivfBuild) = timed(IvfIndex.build(spark, emb, s"$root/ivf", nCells))
        val ivfQ = math.min(query(IvfIndex.topKWithHandle(spark, s"$root/ivf", probes)),
          query(IvfIndex.topKWithHandle(spark, s"$root/ivf", probes)))
        val (mipsRep, mipsBuild) = timed(MipsIndex.build(spark, emb, s"$root/mips"))
        val mipsQ = math.min(query(MipsIndex.topKWithHandle(spark, s"$root/mips", probes)),
          query(MipsIndex.topKWithHandle(spark, s"$root/mips", probes)))
        val (ivfApp, ivfAppend) = timed(IvfIndex.append(spark, delta, s"$root/ivf"))
        val ivfQ3 = query(IvfIndex.topKWithHandle(spark, s"$root/ivf", probes))
        val (mipsApp, mipsAppend) = timed(MipsIndex.append(spark, delta, s"$root/mips"))
        val mipsQ3 = query(MipsIndex.topKWithHandle(spark, s"$root/mips", probes))
        require(ivfApp.newVectors == nDelta && mipsApp.newVectors == nDelta)
        Seq("rows" -> (n + nDelta), "cells" -> nCells, "mips_plan" -> mipsRep.plan.toString,
          "ivf_build_sec" -> ivfBuild, "ivf_query_sec" -> ivfQ,
          "mips_build_sec" -> mipsBuild, "mips_query_sec" -> mipsQ,
          "ivf_append_sec" -> ivfAppend, "mips_append_sec" -> mipsAppend,
          "ivf_postappend_query_sec" -> ivfQ3, "mips_postappend_query_sec" -> mipsQ3,
          "ivf_append_stage_ms" -> stageMs(ivfApp.stages),
          "mips_append_stage_ms" -> stageMs(mipsApp.stages))
      }
    }

  /** Asymmetric decontamination of `docs` (id, text) against its
    * every-EvalMod-th-doc slice: eval bands broadcast, the corpus band
    * relation is never shuffled. */
  private def decon(docs: DataFrame): Result = leg(docs.sparkSession)(Seq("rows" ->
    Decontaminate.pairsWithHandle(
      docs.where(col("id") % EvalMod =!= 0), docs.where(col("id") % EvalMod === 0), cfg)
      ._1.count()))

  /** Stores for decon-ckpt, built once per n per JVM (a store is
    * parallelism-independent data) and removed at exit. */
  private val deconStores = scala.collection.concurrent.TrieMap.empty[Long, String]

  /** Decontaminate.pairsFromCheckpoints over a completed CheckpointedDedup
    * store of n docs (built untimed) — the production shape where the scrub
    * reuses an already-deduped corpus' checkpoints. Only the eval slice is
    * generated, under fresh ids: copies of every EvalMod-th doc. */
  private def deconCkpt(spark: SparkSession, n: Long, cores: Int): Result = {
    import spark.implicits._
    val dir = deconStores.getOrElseUpdate(n, {
      val d = Files.createTempDirectory("graft-probe-decon-store")
      sys.addShutdownHook(rmrf(d))
      CheckpointedDedup.run(
        spark, PagesGen.pages(spark, n, 0L, cores * 4).drop("id"), cfg, d.toString)
      d.toString
    })
    leg(spark) {
      val eval = spark.range(0L, n, EvalMod, cores * 4)
        .mapPartitions(_.map(id => (id + 1000000007L, PagesGen.textFor(0L, id))))
        .toDF("id", "text")
      Seq("rows" -> Decontaminate.pairsFromCheckpoints(spark, dir, eval, cfg)._1.count())
    }
  }

  /** Winnowing near-dup pairs (production rolling-hash kernel, k=8, w=16):
    * fingerprint projection, df-cap census gate, fingerprint self-join. */
  private def winnow(docs: DataFrame): Result = leg(docs.sparkSession)(Seq("rows" ->
    SparkEntry.winnowPairs(docs.withColumnRenamed("id", "doc_id"), k = 8, w = 16).count()))

  /** Paragraph-level dedup over 10-word blocks: md5 census groupBy
    * (map-side partial) + shuffle_hash mark join; `hottest` is the most
    * copied block hash — the hot join key under boilerplate skew. */
  private def paragraph(docs: DataFrame): Result = leg(docs.sparkSession) {
    graft.functions.GraftExpressions.register(docs.sparkSession)
    val r = SparkEntry.paragraphDedup(docs.withColumnRenamed("id", "doc_id"),
      call_function("graft_word_blocks", col("text"), lit(10)))
      .agg(count(lit(1)), count(when(col("is_dup"), 1)), max("n_copies")).first()
    Seq("rows" -> r.getLong(0), "dup_paras" -> r.getLong(1), "hottest" -> r.getLong(2))
  }

  /** Repetition stats (graft_rep_stats), a pure narrow map. The aggregate
    * forces the kernel on every row: a bare count() would column-prune the
    * expression away and time an empty scan. */
  private def repetition(docs: DataFrame): Result = leg(docs.sparkSession) {
    graft.functions.GraftExpressions.register(docs.sparkSession)
    val r = docs.select(call_function("graft_rep_stats", col("text"), lit(2), lit(10)).as("r"))
      .agg(count(lit(1)), sum(col("r.mass_all") + col("r.nb")), max("r.top_count")).first()
    Seq("rows" -> r.getLong(0), "mass" -> r.getLong(1), "max_top" -> r.getLong(2))
  }

  /** Incremental-dedup cost: a base store of n docs, then an n/8-doc
    * increment, against a from-scratch run over the union. `block` takes
    * the trailing whole clusters as the increment (pair share proportional
    * to doc share, the daily-crawl shape); otherwise increment docs
    * interleave within dup clusters, so its pairs cross the boundary (11%
    * of docs carries ~22% of the dup pairs, a stress shape). textScale
    * multiplies document length (10 ≈ web-page width, so the reused text
    * stages dominate as they do at real scale). Wall = the increment. */
  private def incremental(textScale: Int, block: Boolean): Workload = (spark, n, cores) =>
    withTmp("graft-probe-inc") { dir =>
      val nInc = math.max(1L, n / 8)
      val total = n + nInc
      val all = PagesGen.pages(spark, total, 0L, cores * 4, textScale)
      val incPred = if (block) col("id") >= n else pmod(col("id"), lit(total / nInc)) === 0
      val (_, tBase) = timed(
        CheckpointedDedup.run(spark, all.where(!incPred).drop("id"), cfg, s"$dir/base"))
      val (rep, tInc) = timed {
        val r = IncrementalDedup.run(spark, all.where(incPred).drop("id"), cfg, s"$dir/base")
        r.clusters.count()
        r
      }
      val (_, tFull) = timed(CheckpointedDedup.run(spark, all.drop("id"), cfg, s"$dir/full"))
      val stageMs = DedupStages.Names.map(s =>
        s -> TableIO.readManifest(s"${rep.incDir}/$s").map(_.wallMillis).getOrElse(-1L))
      spark.catalog.clearCache()
      Result(tInc, Seq("rows" -> rep.newDocs, "cost_ratio" -> tInc / tFull,
        "t_base_sec" -> tBase, "t_full_sec" -> tFull,
        "inc_frac_of_corpus" -> nInc.toDouble / total, "text_scale" -> textScale,
        "split" -> (if (block) "block" else "cross"), "inc_stage_ms" -> stageMs))
    }

  /** Larger-than-bench smoke: n docs (the first `skewDocs` of them
    * BOILERPLATE — one template at 1% token mutation, whose shared band
    * buckets are ≫ the census cap, driving the cap + salted-cell pairing +
    * cross-cell stitching + pointer-jumping CC path) and n/20 clustered
    * vectors, written once (untimed) in the driver-table layout. Legs: the
    * heaviest oracle queries, clusters at the oracle and at the tuned cap,
    * and the decon/winnow/paragraph workloads over the same docs; plus the
    * minhash census shape. Wall = the sum of the legs. */
  private def bigSmoke(skewDocs: Long): Workload = (spark, n, cores) =>
    withTmp("graft-probe-bigsmoke") { dir =>
      import spark.implicits._
      val skew = math.min(skewDocs, n)
      spark.range(0L, n, 1L, cores * 4)
        .mapPartitions(_.map(id =>
          (id, if (id < skew) PagesGen.boilerplateText(0L, id) else PagesGen.textFor(0L, id))))
        .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
      val nVecs = math.max(1L, n / 20)
      vectors(spark, nVecs, cores * 4).write.parquet(s"$dir/embeddings.parquet")
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id").as("id"), col("text"))
      def query(q: String): Result =
        leg(spark)(Seq("rows" -> SparkEntry.queries(q)(spark, dir).count()))
      def clusters(c: DedupConfig): Result = leg(spark) {
        val cl = Dedup.clusters(docs, c).cache()
        Seq("rows" -> cl.count(), "boilerplate_clusters" ->
          cl.where(col("id") < skew).agg(countDistinct("cluster_id")).first().getLong(0))
      }
      // A mutated-boilerplate group fragments into band sub-buckets just
      // UNDER the census cap, each emitting all-pairs: ~42·cap pairs per
      // boilerplate doc at the oracle cap 2000 (50k boilerplate ⇒ ~2G pair
      // rows ⇒ shuffle-disk exhaustion). Above 20k skew the oracle-config
      // dedup legs are skipped; the tuned cap (the same knob turned down)
      // is the production posture for boilerplate-heavy corpora.
      val oracleDedup =
        if (skew > 20000) Nil
        else Seq("q_minhash_lsh_pairs" -> query("q_minhash_lsh_pairs"),
          "dedup_clusters" -> clusters(cfg))
      val tuned =
        if (skew > 0) Seq("tuned_clusters" -> clusters(cfg.copy(maxBucket = 256))) else Nil
      val legs = oracleDedup ++ Seq("q_embedding_lsh_ann" -> query("q_embedding_lsh_ann")) ++
        tuned ++ Seq("decontaminate" -> decon(docs), "winnow_pairs" -> winnow(docs),
          "paragraph_dedup" -> paragraph(docs))
      val census = Dedup.bucketCensus(Dedup.bands(Dedup.signatures(docs, cfg), cfg))
        .agg(max("bucket_size"), count(when(col("bucket_size") > cfg.maxBucket, 1))).first()
      spark.catalog.clearCache()
      Result(legs.map(_._2.wall).sum,
        Seq("rows" -> n, "vecs" -> nVecs, "skew_docs" -> skew,
          "max_bucket" -> census.getLong(0), "capped_buckets" -> census.getLong(1)) ++
          legs.map { case (k, r) => k -> (("sec" -> r.wall) +: r.fields) })
    }

  private[tools] def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Minimal JSON: strings, numbers, arrays, and (key, value) objects. */
  private[tools] def json(v: Any): String = v match {
    case s: String => "\"" + s + "\""
    case d: Double => f"$d%.4f"
    case kv: Seq[_] if kv.nonEmpty && kv.forall(_.isInstanceOf[Product2[_, _]]) =>
      kv.map { case (k, x) => s""""$k":${json(x)}""" }.mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(json).mkString("[", ",", "]")
    case x => x.toString
  }
}
