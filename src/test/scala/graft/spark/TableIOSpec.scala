package graft.spark

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.pipeline.{CheckpointedDedup, DedupConfig, IncrementalDedup, IvfIndex}
import graft.sources.TableIO
import graft.testkit.PagesGen

/** Reopening a checkpoint stage asks Spark nothing: the manifest carries the
  * stage's schema, so `TableIO.read` is a file listing with no schema
  * inference job, and it yields exactly the schema inference would. */
class TableIOSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** Spark jobs started while `body` runs on this thread. Listener events
    * arrive asynchronously but in order, so a marker job run after `body`
    * and seen by the listener means every earlier job was seen too. */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"tableio-${java.util.UUID.randomUUID()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "reads under test")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.contains(s"$group-marker") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(s"$group-marker"), "listener never saw the marker job")
      (out, seen.asScala.count(_ == group))
    } finally sc.removeSparkListener(listener)
  }

  /** Every manifest-tracked stage directory under a store root. */
  private def stageDirs(root: String): Seq[String] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator().asScala.filter(_.getFileName.toString == "_manifest.json")
      .map((p: Path) => p.getParent.toString).toSeq.sorted
    finally s.close()
  }

  test("a manifest-tracked stage reopens with zero Spark jobs") {
    import spark.implicits._
    val dir = s"${tmp("graft-tableio-zero")}/stage"
    TableIO.write(Seq((1L, "a", Seq(1L, 2L)), (2L, "b", Seq.empty[Long])).toDF("id", "text", "xs"),
      dir, "stage", "h", 0L)
    assert(TableIO.readManifest(dir).flatMap(_.schema).isDefined)
    val (df, jobs) = jobsDuring(TableIO.read(spark, dir).schema)
    assert(jobs == 0, s"TableIO.read launched $jobs job(s)")
    assert(df.fieldNames.toSeq == Seq("id", "text", "xs"))
    assert(TableIO.read(spark, dir).count() == 2L)
  }

  test("every stage of a dedup store and an IVF store reads with the inferred schema") {
    val all = PagesGen.pages(spark, 80L, seed = 5L, partitions = 4)
    val dedupDir = tmp("graft-tableio-dedup")
    val cfg = DedupConfig(seed = 42L)
    CheckpointedDedup.run(spark, all.where(col("id") < 60).drop("id"), cfg, dedupDir)
    IncrementalDedup.run(spark, all.where(col("id") >= 60).drop("id"), cfg, dedupDir)

    val emb = spark.range(0L, 240L, 1L, 4).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 15), i -> cast(sin(id * 7 + i) as float))").as("embedding"))
    val ivfDir = tmp("graft-tableio-ivf")
    IvfIndex.build(spark, emb.where(col("vec_id") < 200), ivfDir, nCells = 7)
    IvfIndex.append(spark, emb.where(col("vec_id") >= 200), ivfDir)

    val dirs = stageDirs(dedupDir) ++ stageDirs(ivfDir)
    assert(dirs.exists(_.endsWith("inc-1/clusters")) && dirs.exists(_.endsWith("inc-1/vectors")),
      s"fixture lacks increment stages: $dirs")
    assert(dirs.size == 8 + 8 + 3 + 2, s"unexpected stage set: $dirs")
    dirs.foreach { d =>
      assert(TableIO.readManifest(d).flatMap(_.schema).isDefined, s"$d: no schema in manifest")
      val inferred = spark.read.parquet(s"$d/data").schema
      // StructType equality covers names, types, nullability and metadata
      assert(TableIO.read(spark, d).schema == inferred, s"$d: schema differs from inference")
    }
  }

  test("a manifest without the schema field still reads, through inference") {
    import spark.implicits._
    val dir = s"${tmp("graft-tableio-legacy")}/stage"
    val df = Seq((3L, "x"), (4L, "y"), (5L, "z")).toDF("id", "text")
    TableIO.write(df, dir, "stage", "h0", 0L)
    // a manifest as stores wrote them before the schema field existed
    Files.writeString(Paths.get(dir, "_manifest.json"),
      """{"stage":"stage","configHash":"h0","snapshotId":1,"rows":3,"wallMillis":0,""" +
        """"files":[],"extra":{"k":"v"}}""")
    val m = TableIO.readManifest(dir).get
    assert(m.schema.isEmpty && m.rows == 3L && m.extra == Map("k" -> "v"))
    assert(TableIO.isComplete(dir, "h0"))
    val (schema, jobs) = jobsDuring(TableIO.read(spark, dir).schema)
    assert(jobs >= 1, "the inference fallback should run its schema job")
    assert(schema == spark.read.parquet(s"$dir/data").schema)
    val rows = TableIO.read(spark, dir).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows == Set((3L, "x"), (4L, "y"), (5L, "z")))
  }
}
