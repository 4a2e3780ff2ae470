package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Forced-distributed A/B harness for the iterative graph loops
  * (round-16 optimization evidence; r15 verdict item 2).
  *
  * The test SFs never exercise the distributed branches — every
  * corpus graph sits under the 2M-edge driver-finish gate — so this
  * tool synthesizes a deterministic graph ABOVE the gate (4M directed
  * edges over 300K nodes, xxhash64-derived, partition-invariant),
  * writes it to parquet once, and times each loop with
  * `driverFinishMaxEdges = 0`:
  *
  *   - mode `gen`:      write <dir>/edges.parquet
  *   - mode `default`:  the branch graph.SizePolicy's byte gate picks
  *                      (here: under the cap — 300K nodes × 48 B
  *                      ≈ 14 MB < 100 MB): the state broadcasts, and
  *                      for bfs4 it stays on the driver, one edge-scan
  *                      job per hop
  *   - mode `fallback`: `maxBroadcastBytes = 0` — pre-partitioned
  *                      edge cache + shuffled-hash state side
  *   - mode `plans`:    dump `.explain("formatted")` of one
  *                      representative round per loop (the factored
  *                      round functions the operators themselves run)
  *                      into <outDir>
  *
  * The "before" numbers come from running the same `default`-mode
  * timing calls against the pre-r16 operator code (a worktree at the
  * previous commit) — the call expressions compile unchanged there.
  *
  * Timing: per op, TWO full runs, report both and the min (the Bench
  * discipline — interference only adds time); caches cleared between
  * runs; materialization through the noop sink.
  */
object GraphLoopBench {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/glb")
    val mode = if (args.length > 1) args(1) else "default"
    val outDir = if (args.length > 2) args(2) else "plans/r16"
    val spark = graft.SparkEntry.localSession()
    spark.sparkContext.setLogLevel("WARN")
    if (mode == "gen") { gen(spark, dir); spark.stop(); return }

    def edges: DataFrame = spark.read.parquet(s"$dir/edges.parquet")
    // symmetrized view for the loops that need both directions
    def sym: DataFrame = edges.unionAll(
      edges.select(col("dst").as("src"), col("src").as("dst")))

    if (mode == "plans") { plans(spark, sym, outDir); spark.stop(); return }

    val fb = mode == "fallback"
    // maxBroadcastBytes = 0 forces the repartition + shuffled-hash
    // branch; the named-arg calls only compile against the r16 code,
    // so the pre-r16 baseline runs mode `default` only
    def ops: Seq[(String, () => DataFrame)] = Seq(
      "lpa4" -> (() =>
        if (fb) graft.graph.LabelPropagation.run(
          edges.select(col("src").as("id1"), col("dst").as("id2")),
          rounds = 4, driverFinishMaxEdges = 0L, maxBroadcastBytes = 0L)
        else graft.graph.LabelPropagation.run(
          edges.select(col("src").as("id1"), col("dst").as("id2")),
          rounds = 4, driverFinishMaxEdges = 0L)),
      "bfs4" -> { () =>
        val seeds = spark.range(10).select(col("id").as("node"))
        if (fb) graft.graph.Bfs.hopDistances(sym, seeds, 4,
          driverFinishMaxEdges = 0L, maxBroadcastBytes = 0L)
        else graft.graph.Bfs.hopDistances(sym, seeds, 4,
          driverFinishMaxEdges = 0L)
      },
      "hyperball3" -> (() =>
        if (fb) graft.graph.HyperBall.neighborhood(sym, 3,
          driverFinishMaxEdges = 0L, maxBroadcastBytes = 0L)
        else graft.graph.HyperBall.neighborhood(sym, 3,
          driverFinishMaxEdges = 0L)),
      "pagerank5" -> (() =>
        if (fb) graft.graph.PageRank.pageRank(sym, iters = 5,
          driverFinishMaxEdges = 0L, maxBroadcastBytes = 0L)
        else graft.graph.PageRank.pageRank(sym, iters = 5,
          driverFinishMaxEdges = 0L)),
      "components" -> { () =>
        val nodes = spark.range(300000).select(col("id"))
        if (fb) graft.graph.Components.connectedComponents(nodes,
          edges.select(col("src").as("id1"), col("dst").as("id2")),
          driverFinishMaxEdges = 0L, maxBroadcastBytes = 0L)
        else graft.graph.Components.connectedComponents(nodes,
          edges.select(col("src").as("id1"), col("dst").as("id2")),
          driverFinishMaxEdges = 0L)
      },
      "kcore4" -> (() =>
        if (fb) graft.graph.KCore.kcore(
          edges.select(col("src").as("id1"), col("dst").as("id2")),
          k = 8, rounds = 4, driverFinishMaxEdges = 0L,
          maxBroadcastBytes = 0L)
        else graft.graph.KCore.kcore(
          edges.select(col("src").as("id1"), col("dst").as("id2")),
          k = 8, rounds = 4, driverFinishMaxEdges = 0L)),
      "reach" -> { () =>
        val targets = spark.range(10).select(col("id").as("node"))
        val dedges = edges.select(col("src").as("child"),
          col("dst").as("parent"))
        if (fb) graft.graph.Reachability.reachingSet(dedges, targets,
          maxRounds = 40, driverFinishMaxEdges = 0L,
          maxBroadcastBytes = 0L)
        else graft.graph.Reachability.reachingSet(dedges, targets,
          maxRounds = 40, driverFinishMaxEdges = 0L)
      })

    // optional 4th arg: comma-separated op subset for targeted A/Bs
    val only = args.lift(3)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val results = ops.filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, build) =>
      spark.sparkContext.setJobDescription(s"glb:$name")
      val ts = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        build().write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sharedState.cacheManager.clearCache()
        dt
      }
      println(f"[glb] $name mode=$mode runs=${ts.map(t => f"$t%.2f")
        .mkString(",")} min=${ts.min}%.2f")
      (name, ts.min)
    }
    val qs = results.map { case (k, v) => s""""$k":$v""" }
      .mkString("{", ",", "}")
    println(s"""{"glb_mode":"$mode","queries":$qs}""")
    spark.stop()
  }

  private def gen(spark: SparkSession, dir: String): Unit = {
    val nEdges = 4000000L
    val nNodes = 300000L
    spark.range(nEdges).select(
        pmod(xxhash64(lit(1), col("id")), lit(nNodes)).as("src"),
        pmod(xxhash64(lit(2), col("id")), lit(nNodes)).as("dst"))
      .filter(col("src") =!= col("dst"))
      .write.mode("overwrite").parquet(s"$dir/edges.parquet")
    println(s"[glb] wrote $dir/edges.parquet")
  }

  /** Dump the per-round physical plans the operators themselves build
    * (lpaRound / prContrib are the loops' factored round bodies; the
    * HyperBall dump is the real neighborhood() output, whose lazy
    * last round carries the join + byte-max merge). */
  private def plans(spark: SparkSession, sym: DataFrame,
                    outDir: String): Unit = {
    import org.apache.spark.storage.StorageLevel
    def dump(name: String, df: DataFrame): Unit = {
      val p = java.nio.file.Paths.get(outDir, name)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p,
        df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode).getBytes("UTF-8"))
      println(s"[glb] wrote $p")
    }
    Seq(false, true).foreach { fbMode =>
      val tag = if (fbMode) "after_fallback" else "after_bcast"
      val symP = (if (fbMode) sym.repartition(col("src")) else sym)
        .persist(StorageLevel.MEMORY_AND_DISK)
      symP.count()
      val labels = symP.select(col("src").as("node")).distinct()
        .withColumn("label", col("node")).localCheckpoint(true)
      dump(s"glb_lpa_round_$tag.txt",
        graft.graph.LabelPropagation.lpaRound(symP, labels, !fbMode))
      val deg = symP.groupBy("src").agg(count(lit(1)).as("deg"))
      val ed = symP.join(deg, "src").persist(StorageLevel.MEMORY_AND_DISK)
      ed.count()
      val ranks = labels.select(col("node"), col("label").as("r"))
        .localCheckpoint(true)
      dump(s"glb_pr_round_$tag.txt",
        graft.graph.PageRank.prContrib(ed, ranks, 17L, 20L, !fbMode))
      spark.sharedState.cacheManager.clearCache()
    }
    val hb = graft.graph.HyperBall.neighborhood(sym, 2,
      driverFinishMaxEdges = 0L)
    dump("glb_hyperball_after_bcast.txt", hb)
    spark.sharedState.cacheManager.clearCache()
    val hbFb = graft.graph.HyperBall.neighborhood(sym, 2,
      driverFinishMaxEdges = 0L, maxBroadcastBytes = 0L)
    dump("glb_hyperball_after_fallback.txt", hbFb)
    spark.sharedState.cacheManager.clearCache()
  }
}
