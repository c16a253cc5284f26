package graft.tools

import graft.SparkEntry

/** Per-query profiling harness: runs one named SparkEntry query N times in a
  * warm session (this VM's first-run JIT costs 5-20×, see BENCH/BASELINE.md)
  * and prints each wall time — separates steady-state cost from cold-start.
  * Usage: runMain graft.tools.QueryProfile <queryName> [sfDir] [reps] [cores] [plain]
  * (5th arg "plain" = GraftSession.plain, the Bench/Verify session, instead
  * of the tuned GraftSession.get — for A/B-ing the tuned config itself)
  */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val cores = if (args.length > 3) args(3).toInt else 32
    val spark =
      if (args.length > 4 && args(4) == "plain") graft.GraftSession.plain(cores, s"profile-$name")
      else graft.GraftSession.get(cores, s"profile-$name")
    val fn = SparkEntry.queries(name)
    (1 to reps).foreach { i =>
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      println(f"[profile] $name rep $i: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
