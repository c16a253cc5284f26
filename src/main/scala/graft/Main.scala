package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.{CheckpointedDedup, Decontaminate, DedupConfig, DocIds, IncrementalDedup}

/** Production CLI — the spark-submit surface of the library (north rule:
  * "run via spark-submit on a multi-executor cluster"). Wraps the three
  * pipeline entry points a training-data operator actually schedules:
  *
  * {{{
  * spark-submit --class graft.Main graft.jar \
  *   dedup         <pages.parquet> <storeDir>            # run/resume
  *   increment     <storeDir> <newPages.parquet>         # daily crawl
  *   decontaminate <storeDir> <eval.parquet> <outDir>    # benchmark scrub
  *   ivf-build     <embeddings.parquet> <storeDir>       # ANN index build
  *   ivf-append    <storeDir> <newEmb.parquet>           # daily vector drop
  *   ivf-query     <storeDir> <probes.parquet> <outDir>  # ANN top-k
  *   mips-build    <embeddings.parquet> <storeDir>       # MIPS index build
  *   mips-append   <storeDir> <newEmb.parquet>           # daily vector drop
  *   mips-query    <storeDir> <probes.parquet> <outDir>  # MIPS top-k
  *   scrub-paragraphs <pages.parquet> <outDir>           # CCNet line dedup
  * }}}
  *
  * Config flags (anywhere on the command line, all optional):
  * `--seed=N --shingle-words=N --char-shingles=N --num-hashes=N --bands=N
  * --threshold=X --max-bucket=N --salt-window=N`. The checkpointed store
  * records the config family; `increment`/`decontaminate` validate the
  * supplied flags against it and fail fast on a mismatch rather than
  * silently mixing hash families.
  *
  * Under spark-submit the cluster's master/executor settings apply
  * untouched (`SparkSession.builder().getOrCreate()`), the codegen cache
  * size included: pass `--conf spark.sql.codegen.cache.maxEntries=1000`
  * (GraftSession.CodegenCacheEntries) to get the local session's. Without a
  * master (local development, `sbt runMain`) it falls back to the
  * environment-tuned local session. Tables are plain parquet directories:
  * `pages` needs at least (url STRING, text STRING) — extra columns like
  * warc_ts/html/lang pass through the docs checkpoint's input fingerprint
  * untouched; `eval` needs (id LONG, text STRING) or (url, text) (ids are
  * then derived the same collision-checked way as corpus ids).
  */
object Main {

  private def usage(): Nothing = {
    System.err.println(
      """usage: graft.Main [--flags] <command> <args>
        |  dedup         <pages.parquet> <storeDir>
        |  increment     <storeDir> <newPages.parquet>
        |  decontaminate <storeDir> <eval.parquet> <outDir>
        |  ivf-build     <embeddings.parquet> <storeDir>
        |  ivf-append    <storeDir> <newEmbeddings.parquet>
        |  ivf-query     <storeDir> <probes.parquet> <outDir>
        |  mips-build    <embeddings.parquet> <storeDir>
        |  mips-append   <storeDir> <newEmbeddings.parquet>
        |  mips-query    <storeDir> <probes.parquet> <outDir>
        |  scrub-paragraphs <pages.parquet> <outDir>
        |dedup flags: --seed=N --shingle-words=N --char-shingles=N
        |       --num-hashes=N --bands=N --threshold=X --max-bucket=N
        |       --salt-window=N
        |ivf flags:  --cells=N (default ceil(sqrt(n))) --nprobe=N --topk=N
        |mips flags: --tables=N --planes=N --bucket-bits=N (all three or
        |       none — default planFor(n)) --topk=N
        |scrub flags: --para-split=<regex> (paragraph rule; default
        |       --para-words=10 word blocks for newline-free corpora)""".stripMargin)
    sys.exit(2)
  }

  /** The `--key=value` flags of one command family. Unknown flags and
    * malformed values (`--threshold=0,5`, `--seed=abc`) throw
    * IllegalArgumentException — [[main]] turns both into the usage message
    * + exit 2; a raw NumberFormatException stack trace is not an
    * operator-facing error. */
  private final class Flags(flags: Seq[String], known: String*) {
    private val kv = flags.map { f =>
      f.split("=", 2) match {
        case Array(k, v) if known.contains(k) => k -> v
        case _ => throw new IllegalArgumentException(s"unknown flag: $f")
      }
    }.toMap
    def str(k: String): Option[String] = kv.get(k)
    def num[T](k: String, parse: String => T): Option[T] =
      kv.get(k).map { v =>
        try parse(v)
        catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(s"invalid value for $k: $v")
        }
      }
    def int(k: String): Option[Int] = num(k, _.toInt)
  }

  /** All flags are collected FIRST and the config constructed once —
    * a copy-per-flag fold would trip DedupConfig's numHashes-divisible-by-
    * bands invariant on valid flag sets whose intermediate states are
    * invalid (e.g. --num-hashes=24 --bands=12 against the 42-band default). */
  private[graft] def parseConfig(flags: Seq[String]): DedupConfig = {
    val f = new Flags(flags, "--seed", "--shingle-words", "--char-shingles",
      "--num-hashes", "--bands", "--threshold", "--max-bucket", "--salt-window")
    val d = DedupConfig()
    DedupConfig(
      shingleWords = f.int("--shingle-words").getOrElse(d.shingleWords),
      charShingles = f.int("--char-shingles").getOrElse(d.charShingles),
      numHashes = f.int("--num-hashes").getOrElse(d.numHashes),
      bands = f.int("--bands").getOrElse(d.bands),
      threshold = f.num("--threshold", _.toDouble).getOrElse(d.threshold),
      seed = f.num("--seed", _.toLong).getOrElse(d.seed),
      maxBucket = f.int("--max-bucket").getOrElse(d.maxBucket),
      saltWindow = f.int("--salt-window").getOrElse(d.saltWindow))
  }

  private[graft] final case class IvfArgs(cells: Option[Int], nprobe: Int, topk: Int)

  /** IVF subcommand flags — a separate namespace from the dedup config
    * (the store records no hash family; its chain hash covers input +
    * nCells). */
  private[graft] def parseIvfArgs(flags: Seq[String]): IvfArgs = {
    val f = new Flags(flags, "--cells", "--nprobe", "--topk")
    IvfArgs(f.int("--cells"), f.int("--nprobe").getOrElse(2), f.int("--topk").getOrElse(10))
  }

  private[graft] final case class MipsArgs(
      plan: Option[graft.pipeline.SignAlshRetrieval.MipsPlan], topk: Int)

  /** MIPS subcommand flags. The three plan knobs come together or not at
    * all: a partial plan (say --tables without --bucket-bits) silently
    * mixing user values with planFor defaults would be a config the user
    * never asked for. */
  private[graft] def parseMipsArgs(flags: Seq[String]): MipsArgs = {
    val f = new Flags(flags, "--tables", "--planes", "--bucket-bits", "--topk")
    val plan = Seq(f.int("--tables"), f.int("--planes"), f.int("--bucket-bits")) match {
      case Seq(Some(t), Some(p), Some(b)) =>
        Some(graft.pipeline.SignAlshRetrieval.MipsPlan(t, p, b))
      case Seq(None, None, None) => None
      case _ => throw new IllegalArgumentException(
        "--tables/--planes/--bucket-bits must be given together (or none, " +
          "for the planFor(n) default)")
    }
    MipsArgs(plan, f.int("--topk").getOrElse(10))
  }

  private[graft] final case class ScrubArgs(paraSplit: Option[String], paraWords: Int)

  /** scrub-paragraphs flags: the paragraph rule. Production corpora with
    * newline structure pass --para-split (a regex for `split`); the default
    * 10-word blocks is the deterministic rule for single-line corpora (the
    * driver's documents shape). Mutually exclusive. */
  private[graft] def parseScrubArgs(flags: Seq[String]): ScrubArgs = {
    val f = new Flags(flags, "--para-split", "--para-words")
    if (f.str("--para-split").isDefined && f.str("--para-words").isDefined)
      throw new IllegalArgumentException(
        "--para-split and --para-words are mutually exclusive paragraph rules")
    val words = f.int("--para-words").getOrElse(10)
    if (words < 1)
      throw new IllegalArgumentException(s"--para-words must be >= 1, got $words")
    ScrubArgs(f.str("--para-split"), words)
  }

  private def session(): SparkSession =
    // spark-submit (and any cluster launcher) injects spark.master; honor
    // the cluster config wholesale. The local fallback is the tuned dev
    // session — never the other way around: hard-coding local[*] here would
    // silently ignore a real cluster.
    if (sys.props.contains("spark.master"))
      SparkSession.builder().appName("graft")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    else GraftSession.get(Runtime.getRuntime.availableProcessors(), "graft")

  /** Eval tables may come keyed by url (benchmark dumps) or already carry
    * ids; either way the pipeline sees the (id, text) contract.
    *
    * A pre-existing id column is VALIDATED, not trusted: a null id flows
    * through Decontaminate's band join but silently vanishes at the verify
    * equi-join on eval_id, so corpus docs near-dup to that eval item would
    * never be flagged and ship in the clean list — a decontamination leak;
    * duplicate ids cross-match shingle sets between distinct eval texts.
    * The eval table is small by design (the asymmetric-decon contract), so
    * one validation agg is cheap. The url branch needs neither check —
    * DocIds.assign is collision-checked and rejects null urls loudly. */
  private[graft] def asEval(df: DataFrame): DataFrame =
    if (df.columns.contains("id")) {
      val e = df.select(col("id").cast("long").as("id"), col("text"))
      val r = e.agg(
        count(when(col("id").isNull, 1)).as("nulls"),
        count(lit(1)).as("n"),
        countDistinct(col("id")).as("distinct")).first()
      if (r.getLong(0) > 0)
        throw new IllegalArgumentException(
          s"eval table: ${r.getLong(0)} rows with null id — null ids silently " +
            "bypass the decontamination joins; fix the table or drop the id " +
            "column to derive ids from urls")
      if (r.getLong(1) != r.getLong(2))
        throw new IllegalArgumentException(
          s"eval table: duplicate ids (${r.getLong(1)} rows, ${r.getLong(2)} " +
            "distinct) — ids must uniquely key eval texts")
      e
    } else DocIds.assign(df).select(col("id"), col("text"))

  def main(args: Array[String]): Unit = {
    val (flags, pos) = args.toSeq.partition(_.startsWith("--"))
    // parsed per command family: the dedup commands take the hash-family
    // config flags, the ivf commands their own namespace — evaluating the
    // wrong parser would reject the other family's valid flags
    def parsed[A](parse: Seq[String] => A): A =
      try parse(flags)
      catch { case e: IllegalArgumentException =>
        System.err.println(e.getMessage); usage()
      }
    def cfg: DedupConfig = parsed(parseConfig)
    // appends take NO flags: the store's frozen config IS the config.
    // Silently ignoring e.g. --cells would let a user believe they changed
    // the plan (round-6 review) — reject like every other arm.
    def noFlags(cmd: String, frozen: String): Unit =
      if (flags.nonEmpty) {
        System.err.println(s"$cmd takes no flags (the store's frozen $frozen " +
          s"the config); got: ${flags.mkString(" ")}")
        usage()
      }
    def printStages(stages: Seq[graft.pipeline.CheckpointedDedup.StageResult]): Unit =
      stages.foreach(s => println(
        f"[graft] stage ${s.name}%-15s ${if (s.recomputed) f"${s.millis / 1000.0}%8.1f s" else "  resumed"}"))
    // shared by ivf-query and mips-query: a (vec_id) parquet that
    // broadcast-semi-joins the store's vectors at the scan (the uniform
    // probe-set posture). The count guard stays: each probe costs an exact
    // rerank of its cells/buckets, so a huge probe table is a misuse caught
    // loudly before any broadcast is built.
    def probeSet(spark: SparkSession, probesPath: String): (DataFrame, Long) = {
      val probes = spark.read.parquet(probesPath)
        .select(col("vec_id").cast("long").as("vec_id"))
      val nProbes = probes.count()
      require(nProbes > 0, s"probe table $probesPath has no rows")
      require(nProbes <= 100000,
        s"probe table has $nProbes rows — the store query path is per-probe " +
          "work; batch-score a large probe set with the in-memory entries " +
          "(SparkEntry.ivfTopK / SignAlshRetrieval.topK) over a join instead")
      (probes, nProbes)
    }
    pos match {
      case Seq("dedup", pages, storeDir) =>
        val spark = session()
        val report = CheckpointedDedup.run(spark, spark.read.parquet(pages), cfg, storeDir)
        printStages(report.stages)
        println(s"[graft] dedup done: ${report.docs} docs, " +
          s"${report.verifiedPairs.count()} verified pairs, clusters at $storeDir/clusters")
      case Seq("increment", storeDir, newPages) =>
        val spark = session()
        val report = IncrementalDedup.run(spark, spark.read.parquet(newPages), cfg, storeDir)
        println(s"[graft] increment committed at ${report.incDir}: " +
          s"${report.newDocs} new docs, ${report.pairsVerified} pairs adjudicated " +
          s"this increment, cumulative clusters at ${report.incDir}/clusters")
      case Seq("decontaminate", storeDir, evalPath, outDir) =>
        val spark = session()
        val (flagged, caches) = Decontaminate.pairsFromCheckpoints(
          spark, storeDir, asEval(spark.read.parquet(evalPath)), cfg)
        val pairsOut = s"$outDir/contaminated_pairs.parquet"
        flagged.write.mode("overwrite").parquet(pairsOut)
        val pairs = spark.read.parquet(pairsOut)
        // clean list = every corpus doc with no flagged eval near-dup;
        // written as (id, url) pointers — re-writing the text would double
        // the corpus footprint for what is a filter
        val clean = IncrementalDedup.readAll(spark, storeDir, "docs")
          .join(pairs.select(col("doc_id").as("id")).distinct(), Seq("id"), "left_anti")
          .select("id", "url")
        val cleanOut = s"$outDir/clean_doc_ids.parquet"
        clean.write.mode("overwrite").parquet(cleanOut)
        caches.foreach(_.unpersist(blocking = false))
        println(s"[graft] decontaminate done: ${pairs.count()} flagged pairs → $pairsOut, " +
          s"clean list → $cleanOut")
      case Seq("ivf-build", embPath, storeDir) =>
        val a = parsed(parseIvfArgs)
        val spark = session()
        // default cell count = the engine-wide ceil(√n) rule, n from the
        // parquet footers (driver-side metadata, no job)
        val nCells = a.cells.getOrElse(math.ceil(math.sqrt(
          graft.sources.TableIO.rowCount(spark, embPath).toDouble)).toInt)
        val report = graft.pipeline.IvfIndex.build(
          spark, spark.read.parquet(embPath), storeDir, nCells)
        printStages(report.stages)
        println(s"[graft] ivf-build done: ${report.vectors} vectors, " +
          s"${report.nCells} cells, index at $storeDir")
      case Seq("ivf-query", storeDir, probesPath, outDir) =>
        val a = parsed(parseIvfArgs)
        val spark = session()
        val (probes, nProbes) = probeSet(spark, probesPath)
        val (res, pinned) = graft.pipeline.IvfIndex.topKWithHandle(
          spark, storeDir, probes, a.nprobe, a.topk)
        res.write.mode("overwrite").parquet(outDir)
        pinned.foreach(_.unpersist(blocking = false))
        println(s"[graft] ivf-query done: ${spark.read.parquet(outDir).count()} " +
          s"result rows for $nProbes probes → $outDir")
      case Seq("ivf-append", storeDir, newEmbPath) =>
        noFlags("ivf-append", "geometry is")
        val spark = session()
        val r = graft.pipeline.IvfIndex.append(
          spark, spark.read.parquet(newEmbPath), storeDir)
        if (r.newVectors == 0)
          println(s"[graft] ivf-append: nothing new (${r.droppedDupOrStored} " +
            s"duplicate or already-stored ids dropped), store unchanged")
        else
          println(s"[graft] ivf-append committed at ${r.incDir}: " +
            s"${r.newVectors} new vectors assigned against the frozen " +
            s"centroids (${r.droppedDupOrStored} duplicate or already-stored ids dropped)")
      case Seq("mips-build", embPath, storeDir) =>
        val a = parsed(parseMipsArgs)
        val spark = session()
        val report = graft.pipeline.MipsIndex.build(
          spark, spark.read.parquet(embPath), storeDir, a.plan)
        printStages(report.stages)
        println(s"[graft] mips-build done: ${report.vectors} vectors, plan " +
          s"T=${report.plan.tables}/P=${report.plan.planesPerTable}/" +
          s"b=${report.plan.bucketBits}, index at $storeDir")
      case Seq("mips-append", storeDir, newEmbPath) =>
        noFlags("mips-append", "plan/maxnorm are")
        val spark = session()
        val r = graft.pipeline.MipsIndex.append(
          spark, spark.read.parquet(newEmbPath), storeDir)
        if (r.newVectors == 0)
          println(s"[graft] mips-append: nothing new (${r.droppedDupOrStored} " +
            s"duplicate or already-stored ids dropped), store unchanged")
        else
          println(s"[graft] mips-append committed at ${r.incDir}: " +
            s"${r.newVectors} new vectors hashed under the frozen plan/maxnorm " +
            s"(${r.droppedDupOrStored} duplicate or already-stored ids dropped)")
      case Seq("mips-query", storeDir, probesPath, outDir) =>
        val a = parsed(parseMipsArgs)
        val spark = session()
        val (probes, nProbes) = probeSet(spark, probesPath)
        val (res, pinned) = graft.pipeline.MipsIndex.topKWithHandle(
          spark, storeDir, probes, a.topk)
        res.write.mode("overwrite").parquet(outDir)
        pinned.foreach(_.unpersist(blocking = false))
        println(s"[graft] mips-query done: ${spark.read.parquet(outDir).count()} " +
          s"result rows for $nProbes probes → $outDir")
      case Seq("scrub-paragraphs", pagesPath, outDir) =>
        val a = parsed(parseScrubArgs)
        val spark = session()
        graft.functions.GraftExpressions.register(spark)
        // ids assigned the collision-checked way (DocIds), then the CCNet
        // scrub: text rebuilt with non-first paragraph occurrences removed.
        // Output keeps the url so the clean text re-joins the page table.
        val pages = DocIds.assign(spark.read.parquet(pagesPath))
        val (paras, joiner) = a.paraSplit match {
          // split-rule paragraphs rejoin with '\n' (the canonical paragraph
          // separator — the split consumed the original one); word blocks
          // rejoin with ' ', reconstructing the token stream exactly
          case Some(re) => (split(col("text"), re, -1), "\n")
          case None =>
            (call_function("graft_word_blocks", col("text"), lit(a.paraWords)), " ")
        }
        val scrubbed = graft.SparkEntry.scrubDupParagraphs(
          pages.select(col("id").as("doc_id"), col("text")), paras, joiner)
        // LEFT join from pages: a null-text page yields no paragraph rows,
        // so an inner join would silently drop it from the cleaned corpus —
        // a scrub tool must never shrink the doc set (round-6 review). Such
        // pages come through with zero counts and NULL text_clean (there was
        // no text to clean — distinct from '' = everything removed).
        pages.select(col("id").as("doc_id"), col("url"))
          .join(scrubbed.hint("shuffle_hash"), Seq("doc_id"), "left")
          .select(col("doc_id"), col("url"),
            coalesce(col("n_paras"), lit(0L)).as("n_paras"),
            coalesce(col("n_removed"), lit(0L)).as("n_removed"),
            col("text_clean"))
          .write.mode("overwrite").parquet(outDir)
        val stats = spark.read.parquet(outDir)
          .agg(count(lit(1)), sum("n_paras"), sum("n_removed")).first()
        println(s"[graft] scrub-paragraphs done: ${stats.getLong(0)} docs, " +
          s"${stats.get(1)} paragraphs, ${stats.get(2)} removed → $outDir")
      case _ => usage()
    }
  }
}
