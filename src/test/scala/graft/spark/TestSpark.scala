package graft.spark

import org.apache.spark.sql.SparkSession

/** One SparkSession for all Spark suites (single JVM under Test/fork). It
  * runs production's codegen cache size: that static conf is read at the
  * JVM's first codegen, and this session is the first to compile. Like
  * GraftSession, it names generated classes without the stage id. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.codegen.cache.maxEntries", graft.GraftSession.CodegenCacheEntries.toLong)
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
