package graft.tools
import graft.Queries

/** Dump `.explain("formatted")` for a set of registered queries —
  * the plans/r{N}/<query>_{before,after}.txt evidence the round
  * checklist commits (guide §1: capture the plan shape for every
  * query you touch, before and after).
  *
  * `runMain graft.tools.ExplainDump <sfDir> <outDir> <suffix> [q1,q2,...]`
  * writes `<outDir>/<query>_<suffix>.txt` per query (all registered
  * queries when the list is omitted). Construction-time jobs
  * (bounded driver finishes, eager persists/checkpoints) run as part
  * of the build — the dumped plan is the plan of the RETURNED frame,
  * which for driver-finish/checkpointed queries is deliberately
  * tiny; the interesting before/after evidence for those lives in
  * the loop code and the bench numbers, and the dump still pins what
  * the final consumer executes. */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = java.nio.file.Paths.get(args(1))
    val suffix = args(2)
    val only = args.lift(3)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    java.nio.file.Files.createDirectories(outDir)
    val spark = graft.SparkEntry.localSession()
    spark.sparkContext.setLogLevel("ERROR")
    Queries.all.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
        val txt =
          try fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          catch { case scala.util.control.NonFatal(e) =>
            s"ERROR building $name: $e"
          }
        java.nio.file.Files.writeString(
          outDir.resolve(s"${name}_$suffix.txt"), txt)
        spark.sharedState.cacheManager.clearCache()
        println(s"[explain] wrote ${name}_$suffix.txt")
      }
    spark.stop()
  }
}
