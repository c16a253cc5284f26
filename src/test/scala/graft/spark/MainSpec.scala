package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.testkit.PagesGen

/** The spark-submit CLI surface (graft.Main): flag parsing, and the three
  * subcommands driven end-to-end over a tmp store — run, resume, increment,
  * decontaminate — asserting on the on-disk artifacts a production operator
  * would consume. */
class MainSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("parseConfig maps every documented flag") {
    val cfg = graft.Main.parseConfig(Seq(
      "--seed=7", "--shingle-words=2", "--num-hashes=24", "--bands=12",
      "--threshold=0.4", "--max-bucket=100", "--salt-window=4"))
    assert(cfg.seed == 7L && cfg.shingleWords == 2 && cfg.numHashes == 24 &&
      cfg.bands == 12 && cfg.threshold == 0.4 && cfg.maxBucket == 100 &&
      cfg.saltWindow == 4)
    assert(graft.Main.parseConfig(Seq("--char-shingles=5")).charShingles == 5)
  }

  test("parseConfig rejects unknown flags and malformed values with named errors") {
    // main() turns these into the usage message + exit 2 — the parse layer
    // must throw something catchable, not sys.exit, or a malformed value
    // would surface as a raw NumberFormatException stack trace
    val unknown = intercept[IllegalArgumentException] {
      graft.Main.parseConfig(Seq("--no-such-flag=1"))
    }
    assert(unknown.getMessage.contains("--no-such-flag"))
    val badValue = intercept[IllegalArgumentException] {
      graft.Main.parseConfig(Seq("--threshold=0,5"))
    }
    assert(badValue.getMessage.contains("--threshold") &&
      badValue.getMessage.contains("0,5"))
    val badSeed = intercept[IllegalArgumentException] {
      graft.Main.parseConfig(Seq("--seed=abc"))
    }
    assert(badSeed.getMessage.contains("--seed"))
  }

  test("asEval validates a pre-existing id column: null or duplicate ids fail loudly") {
    import spark.implicits._
    // null id: the doc would silently vanish at Decontaminate's verify
    // equi-join and its corpus near-dups would ship in the clean list
    val withNull = Seq((Some(1L), "a"), (None: Option[Long], "b"))
      .toDF("id", "text")
    val eNull = intercept[IllegalArgumentException] { graft.Main.asEval(withNull) }
    assert(eNull.getMessage.contains("null id"))
    val withDup = Seq((1L, "a"), (1L, "b"), (2L, "c")).toDF("id", "text")
    val eDup = intercept[IllegalArgumentException] { graft.Main.asEval(withDup) }
    assert(eDup.getMessage.contains("duplicate ids"))
    // a valid id table passes through unchanged
    val ok = graft.Main.asEval(Seq((1L, "a"), (2L, "b")).toDF("id", "text"))
    assert(ok.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a"), (2L, "b")))
  }

  test("dedup → resume → increment → decontaminate end-to-end over one store") {
    val root = java.nio.file.Files.createTempDirectory("graft-main-spec").toString
    val pagesPath = s"$root/pages.parquet"
    val incPath = s"$root/pages2.parquet"
    val evalPath = s"$root/eval.parquet"
    val outDir = s"$root/decon-out"
    val store = s"$root/store"

    PagesGen.pages(spark, 200, seed = 0L, partitions = 4).drop("id")
      .write.parquet(pagesPath)
    // increment: a fresh id range whose cluster blocks continue the corpus
    PagesGen.pages(spark, 240, seed = 0L, partitions = 4)
      .where(col("id") >= 200).drop("id")
      .write.parquet(incPath)
    // eval set = copies of every 10th base page under FRESH urls (distinct
    // ids), so contamination is planted and self-pairing is not a factor
    PagesGen.pages(spark, 200, seed = 0L, partitions = 4)
      .where(col("id") % 10 === 0)
      .select(concat(lit("eval-"), col("url")).as("url"), col("text"))
      .write.parquet(evalPath)

    graft.Main.main(Array("dedup", pagesPath, store))
    // stage tables use the manifest layout (<stage>/data/*.parquet +
    // _manifest.json) — the production reader is TableIO.read
    val clusters = graft.sources.TableIO.read(spark, s"$store/clusters")
    assert(clusters.count() == 200)
    // resume: second run must leave every DATA stage untouched (the
    // `metrics` table is per-run telemetry and is rewritten by design)
    val mtimes = java.nio.file.Files.list(java.nio.file.Paths.get(store)).toArray.map(_.toString)
      .filterNot(_.endsWith("/metrics"))
      .map(d => d -> java.nio.file.Files.getLastModifiedTime(
        java.nio.file.Paths.get(d)).toMillis).toMap
    graft.Main.main(Array("dedup", pagesPath, store))
    mtimes.foreach { case (d, t) =>
      assert(java.nio.file.Files.getLastModifiedTime(
        java.nio.file.Paths.get(d)).toMillis == t, s"stage $d was rewritten on resume")
    }

    graft.Main.main(Array("increment", store, incPath))
    assert(graft.sources.TableIO.read(spark, s"$store/inc-1/clusters").count() == 240)

    graft.Main.main(Array("decontaminate", store, evalPath, outDir))
    val pairs = spark.read.parquet(s"$outDir/contaminated_pairs.parquet")
    val clean = spark.read.parquet(s"$outDir/clean_doc_ids.parquet")
    val nPairs = pairs.count()
    assert(nPairs > 0, "planted eval copies must be flagged")
    // exact copies (J=1) flag at least the 20 planted source docs
    val flaggedDocs = pairs.select("doc_id").distinct().count()
    assert(flaggedDocs >= 20)
    // clean list covers the BASE docs store minus flagged ids exactly
    val allDocs = graft.pipeline.IncrementalDedup.readAll(spark, store, "docs")
    assert(clean.count() == allDocs.count() - flaggedDocs)
    assert(clean.join(pairs.select(col("doc_id").as("id")), Seq("id")).count() == 0)
    spark.catalog.clearCache()
  }

  test("ivf-build → resume → ivf-query end-to-end over one store") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-main-ivf").toString
    val store = s"$root/index"
    val probesPath = s"$root/probes.parquet"
    val outDir = s"$root/ann-out"
    val embPath = "/root/testdata/sf0.01/embeddings.parquet"

    graft.Main.main(Array("ivf-build", embPath, store))
    // resume: a second build over the same input recomputes nothing
    val snap = graft.sources.TableIO.readManifest(s"$store/assignment").get.snapshotId
    graft.Main.main(Array("ivf-build", embPath, store))
    assert(graft.sources.TableIO.readManifest(s"$store/assignment").get.snapshotId == snap,
      "assignment stage was rewritten on resume")

    Seq(0L, 1L, 2L).toDF("vec_id").write.parquet(probesPath)
    graft.Main.main(Array("--topk=5", "ivf-query", store, probesPath, outDir))
    val res = spark.read.parquet(outDir)
    assert(res.select("probe_id").distinct().count() == 3)
    assert(res.agg(max("rnk")).first().getLong(0) <= 5L)
    // the CLI answer is the operator's answer: same store queried directly
    val (direct, pinned) = graft.pipeline.IvfIndex.topKWithHandle(
      spark, store, Seq(0L, 1L, 2L).toDF("vec_id"), 2, 5)
    try assert(res.orderBy("probe_id", "rnk").collect().map(_.toSeq).toSeq ==
      direct.collect().map(_.toSeq).toSeq)
    finally pinned.foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()

    // ivf-append: a vector drop extends the store without touching the base
    val dropPath = s"$root/drop.parquet"
    spark.read.parquet(embPath).where(col("vec_id") < 3)
      .withColumn("vec_id", col("vec_id") + 1000000L)
      .write.parquet(dropPath)
    graft.Main.main(Array("ivf-append", store, dropPath))
    assert(graft.sources.TableIO.readManifest(s"$store/assignment").get.snapshotId == snap,
      "base assignment rewritten by append")
    assert(graft.sources.TableIO.readManifest(s"$store/inc-1/vectors").get.rows == 3L)
    // the appended ids are queryable
    val probes2 = s"$root/probes2.parquet"
    Seq(1000000L).toDF("vec_id").write.parquet(probes2)
    val outDir2 = s"$root/ann-out2"
    graft.Main.main(Array("--topk=5", "ivf-query", store, probes2, outDir2))
    assert(spark.read.parquet(outDir2).count() > 0)
    spark.catalog.clearCache()
  }

  test("mips-build → mips-append → mips-query end-to-end over one store") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-main-mips").toString
    val store = s"$root/index"
    val probesPath = s"$root/probes.parquet"
    val outDir = s"$root/mips-out"
    val embPath = "/root/testdata/sf0.01/embeddings.parquet"

    graft.Main.main(Array("--tables=3", "--planes=16", "--bucket-bits=6",
      "mips-build", embPath, store))
    // resume
    val snap = graft.sources.TableIO.readManifest(s"$store/bits").get.snapshotId
    graft.Main.main(Array("--tables=3", "--planes=16", "--bucket-bits=6",
      "mips-build", embPath, store))
    assert(graft.sources.TableIO.readManifest(s"$store/bits").get.snapshotId == snap,
      "bits stage was rewritten on resume")

    // append a small drop under new ids (norms inside the corpus range —
    // copies of existing vectors, so the frozen-maxnorm guard passes)
    val dropPath = s"$root/drop.parquet"
    spark.read.parquet(embPath).where(col("vec_id") < 2)
      .withColumn("vec_id", col("vec_id") + 1000000L)
      .write.parquet(dropPath)
    graft.Main.main(Array("mips-append", store, dropPath))
    assert(graft.sources.TableIO.readManifest(s"$store/inc-1/bits").get.rows == 2L)

    // query a mixed probe set (a base id + an appended id)
    Seq(0L, 1000000L).toDF("vec_id").write.parquet(probesPath)
    graft.Main.main(Array("--topk=5", "mips-query", store, probesPath, outDir))
    val res = spark.read.parquet(outDir)
    assert(res.select("probe_id").distinct().count() == 2)
    assert(res.agg(max("rnk")).first().getLong(0) <= 5L)
    // the CLI answer is the operator's answer
    val (direct, pinned) = graft.pipeline.MipsIndex.topKWithHandle(
      spark, store, Seq(0L, 1000000L).toDF("vec_id"), 5)
    try assert(res.collect().map(_.toSeq).toSet ==
      direct.collect().map(_.toSeq).toSet)
    finally pinned.foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
  }

  test("scrub-paragraphs end-to-end: word-block rule default, split-rule flag") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-main-scrub").toString
    val pagesPath = s"$root/pages.parquet"
    // doc B repeats doc A's first 2-word block; doc C is entirely A's
    // blocks; the null-text page must SURVIVE the scrub (zero counts,
    // NULL text_clean — an inner join would silently shrink the corpus)
    Seq(
      ("http://a", "a b c d"),
      ("http://b", "a b e f"),
      ("http://c", "a b c d"),
      ("http://n", null.asInstanceOf[String])
    ).toDF("url", "text").write.parquet(pagesPath)
    val outDir = s"$root/clean"
    graft.Main.main(Array("--para-words=2", "scrub-paragraphs", pagesPath, outDir))
    val res = spark.read.parquet(outDir).collect()
      .map(r => r.getAs[String]("url") ->
        (r.getAs[Long]("n_removed"), r.getAs[String]("text_clean"))).toMap
    assert(res.size == 4)
    assert(res("http://n") == ((0L, null)), "null-text page retained with zero counts")
    // keep-first is by doc_id (url-hash derived) — the winner keeps "a b",
    // exactly one of a/c keeps "c d", and b always loses its "a b"
    val winners = res.values.count(v => Option(v._2).exists(_.contains("a b")))
    assert(winners == 1, s"exactly one doc keeps the shared block: $res")
    assert(res("http://b")._2.endsWith("e f"))
    assert(res.values.map(_._1).sum == 3L, s"3 blocks removed in total: $res")
    // split-rule flag: newline paragraphs
    val pages2 = s"$root/pages2.parquet"
    Seq(("http://x", "p1\np2"), ("http://y", "p1\np3")).toDF("url", "text")
      .write.parquet(pages2)
    val out2 = s"$root/clean2"
    graft.Main.main(Array("--para-split=\n", "scrub-paragraphs", pages2, out2))
    val res2 = spark.read.parquet(out2).collect()
      .map(r => r.getAs[String]("url") -> r.getAs[String]("text_clean")).toMap
    // split-rule paragraphs rejoin with '\n' (the separator the split ate)
    assert(Seq(res2("http://x"), res2("http://y")).sorted ==
      Seq("p1\np2", "p3").sorted || Seq(res2("http://x"), res2("http://y")).sorted ==
      Seq("p1\np3", "p2").sorted, s"one doc keeps p1: $res2")
    // conflicting rules rejected
    val e = intercept[IllegalArgumentException] {
      graft.Main.parseScrubArgs(Seq("--para-split=x", "--para-words=3"))
    }
    assert(e.getMessage.contains("mutually exclusive"))
    spark.catalog.clearCache()
  }

  test("parseMipsArgs: plan knobs all-or-none; unknown flags named") {
    import graft.pipeline.SignAlshRetrieval.MipsPlan
    assert(graft.Main.parseMipsArgs(Seq.empty) == graft.Main.MipsArgs(None, 10))
    assert(graft.Main.parseMipsArgs(
      Seq("--tables=4", "--planes=20", "--bucket-bits=8", "--topk=3")) ==
      graft.Main.MipsArgs(Some(MipsPlan(4, 20, 8)), 3))
    val e1 = intercept[IllegalArgumentException] {
      graft.Main.parseMipsArgs(Seq("--tables=4"))
    }
    assert(e1.getMessage.contains("together"))
    val e2 = intercept[IllegalArgumentException] {
      graft.Main.parseMipsArgs(Seq("--cells=9"))
    }
    assert(e2.getMessage.contains("unknown flag"))
    val e3 = intercept[IllegalArgumentException] {
      graft.Main.parseMipsArgs(Seq("--topk=abc"))
    }
    assert(e3.getMessage.contains("invalid value"))
  }
}
