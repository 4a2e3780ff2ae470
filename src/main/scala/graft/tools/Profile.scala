package graft.tools

import graft.Queries

/** Ad-hoc profiler: `runMain graft.tools.Profile <query>[,<query>…]
  * [sfDir] [--explain]` — times each named query (count()) after a
  * warmup query, optionally printing the formatted plan.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = if (args.length > 1 && !args(1).startsWith("--")) args(1)
      else "/root/testdata/sf0.001"
    val explain = args.contains("--explain")
    val spark = graft.SparkEntry.localSession()
    spark.sparkContext.setLogLevel("WARN")
    // warmup: JVM + codegen + parquet footer caches
    Queries.all("q02_agg_group")(spark, sfDir).count()
    names.foreach { name =>
      if (explain) Queries.all(name)(spark, sfDir).explain("formatted")
      // build INSIDE the timed region: operators with eager
      // persist+count / localCheckpoint steps do real work during
      // construction, and run2 shows the warm-cache cost only when
      // the caches survive (cleared caches are rebuilt and re-timed)
      (1 to 2).foreach { i =>
        val t0 = System.nanoTime()
        val n = Queries.all(name)(spark, sfDir).count()
        println(f"[profile] $name run$i: ${(System.nanoTime() - t0) / 1e9}%.2fs ($n rows)")
      }
      spark.sharedState.cacheManager.clearCache()
    }
    spark.stop()
  }
}
