package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the environment-tuned configuration.
  *
  * Measured pathologies of this sandbox (see BENCH/BASELINE.md):
  *  - every write() syscall costs ~3ms regardless of size → large IO buffers
  *    (32k default shuffle buffers would cost ~100ms per shuffled MB);
  *  - tmpfs (/dev/shm) additionally writes at ~10MB/s → scratch stays on the
  *    disk-backed default temp dir;
  *  - G1's barrier/refinement work collapses codegen throughput at high
  *    thread counts → ParallelGC via build.sbt javaOptions;
  *  - AQE's byte-based partition coalescing serializes CPU-dense byte-light
  *    stages (the Jaccard + LCS verify) → floor on post-shuffle parallelism;
  *  - Spark's codegen cache holds 100 compiled classes by default, fewer
  *    than one dedup build plus increment compiles, so a repeated call
  *    recompiles plans the previous call already compiled
  *    → [[CodegenCacheEntries]].
  */
object GraftSession {

  /** `spark.sql.codegen.cache.maxEntries`, sized to the engine's working set
    * of generated classes. Measured distinct compiles: one `queries` pass
    * (all 31 SparkEntry queries) about 500; one dedup build plus increment
    * about 370. 1,000 leaves headroom. It is a static, JVM-wide setting:
    * Spark sizes the cache once, at the JVM's first codegen, so it must be
    * in the conf of the session that compiles first; a later session cannot
    * change it. */
  val CodegenCacheEntries = 1000

  def builder(cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", cores.toString)
      .config("spark.shuffle.file.buffer", "1m")
      .config("spark.shuffle.unsafe.file.output.buffer", "4m")
      .config("spark.shuffle.spill.diskWriteBufferSize", "8m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  def get(cores: Int, appName: String = "graft"): SparkSession = {
    val s = builder(cores).appName(appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // graft_* functions are session-scoped temp functions: register them at
    // the factory so every Column built via call_function (DocIds.primaryHash,
    // the pipeline kernels) resolves without each call site having to know
    // the registration precondition (call sites that build their own session
    // still register lazily — this is belt-and-braces, idempotent)
    graft.functions.GraftExpressions.register(s)
    s
  }

  /** The UN-tuned session the two harness mains (Bench, Verify) share —
    * partitions=cores and the 1m/4m IO buffers encode the measured
    * 3.2 ms/write() syscall fact, and the mains must benchmark and verify
    * the SAME engine: a tuning change applied to one but not the other
    * would silently bench a different configuration than the one whose
    * results the oracle checked. Kept separate from [[builder]]: the bench
    * protocol deliberately excludes the AQE floor knobs (measured A/B via
    * QueryProfile's "plain" mode). */
  def plain(cores: Int, appName: String = "graft-plain"): SparkSession = {
    val s = SparkSession.builder()
      .appName(appName)
      .master(s"local[$cores]")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.shuffle.file.buffer", "1m")
      .config("spark.shuffle.unsafe.file.output.buffer", "4m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
