package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.SizePolicy

/** Forced-distributed A/B harness for the iterative graph loops.
  *
  * The test SFs never exercise the distributed branches — every
  * corpus graph sits under the 2M-edge driver-finish gate — so this
  * tool synthesizes a deterministic graph ABOVE the gate (4M directed
  * edges over 300K nodes, xxhash64-derived, partition-invariant),
  * writes it to parquet once, and times each loop forced past the
  * driver-finish gate (`SizePolicy.forcing(driverMaxEdges = 0)`):
  *
  *   - mode `gen`:      write <dir>/edges.parquet
  *   - mode `default`:  every loop on the branch graph.SizePolicy
  *                      picks. lpa4, hyperball3 and pagerank5 have one
  *                      distributed path (the pre-partitioned edge
  *                      cache + shuffled-hash state side); bfs4,
  *                      components, kcore4 and reach take their
  *                      broadcast branch (here under the cap — 300K
  *                      nodes × 48 B ≈ 14 MB < 100 MB), and for bfs4
  *                      the state stays on the driver, one edge-scan
  *                      job per hop
  *   - mode `fallback`: bfs4, components, kcore4 and reach only, also
  *                      forced past the broadcast cap
  *                      (`broadcastBytes = 0`) — their pre-partitioned
  *                      edge cache + shuffled-hash state side
  *   - mode `plans`:    dump `.explain("formatted")` of one round each
  *                      of LPA, PageRank and HyperBall (the factored
  *                      round functions the operators themselves run)
  *                      into <outDir>
  *
  * Timing: per op, TWO full runs, report both and the min (the Bench
  * discipline — interference only adds time); caches cleared between
  * runs; materialization through the noop sink.
  */
object GraphLoopBench {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/glb")
    val mode = if (args.length > 1) args(1) else "default"
    val outDir = if (args.length > 2) args(2) else "plans/glb"
    val spark = graft.SparkEntry.localSession()
    spark.sparkContext.setLogLevel("WARN")
    if (mode == "gen") { gen(spark, dir); spark.stop(); return }

    def edges: DataFrame = spark.read.parquet(s"$dir/edges.parquet")
    // symmetrized view for the loops that need both directions
    def sym: DataFrame = edges.unionAll(
      edges.select(col("dst").as("src"), col("src").as("dst")))

    if (mode == "plans") { plans(spark, sym, outDir); spark.stop(); return }

    // the loops that keep a broadcast branch; a zero broadcast cap
    // forces their repartition + shuffled-hash fallback
    val armed = Set("bfs4", "components", "kcore4", "reach")
    val fb = mode == "fallback"
    def forced(build: () => DataFrame): DataFrame = SizePolicy.forcing(
      driverMaxEdges = 0L,
      broadcastBytes = if (fb) 0L else SizePolicy.broadcastBytes)(build())
    def ops: Seq[(String, () => DataFrame)] = Seq(
      "lpa4" -> (() => graft.graph.LabelPropagation.run(
        edges.select(col("src").as("id1"), col("dst").as("id2")),
        rounds = 4)),
      "bfs4" -> { () =>
        val seeds = spark.range(10).select(col("id").as("node"))
        graft.graph.Bfs.hopDistances(sym, seeds, 4)
      },
      "hyperball3" -> (() => graft.graph.HyperBall.neighborhood(sym, 3)),
      "pagerank5" -> (() => graft.graph.PageRank.pageRank(sym, iters = 5)),
      "components" -> { () =>
        val nodes = spark.range(300000).select(col("id"))
        graft.graph.Components.connectedComponents(nodes,
          edges.select(col("src").as("id1"), col("dst").as("id2")))
      },
      "kcore4" -> (() => graft.graph.KCore.kcore(
        edges.select(col("src").as("id1"), col("dst").as("id2")),
        k = 8, rounds = 4)),
      "reach" -> { () =>
        val targets = spark.range(10).select(col("id").as("node"))
        val dedges = edges.select(col("src").as("child"),
          col("dst").as("parent"))
        graft.graph.Reachability.reachingSet(dedges, targets,
          maxRounds = 40)
      }).filter { case (n, _) => !fb || armed(n) }

    // optional 4th arg: comma-separated op subset for targeted A/Bs
    val only = args.lift(3)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val results = ops.filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, build) =>
      spark.sparkContext.setJobDescription(s"glb:$name")
      val ts = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        forced(build).write.format("noop").mode("overwrite").save()
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
    * (lpaRound / prContrib / ballRound are the loops' factored round
    * bodies), each over the edge cache pre-partitioned on src the way
    * the loops build it. */
  private def plans(spark: SparkSession, sym: DataFrame,
                    outDir: String): Unit = {
    import org.apache.spark.sql.graft.HllRegisters
    import org.apache.spark.sql.graft.HllRegisterFunctions.hllInit
    def dump(name: String, df: DataFrame): Unit = {
      val p = java.nio.file.Paths.get(outDir, name)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p,
        df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode).getBytes("UTF-8"))
      println(s"[glb] wrote $p")
    }
    val symP = SizePolicy.loopEdges(sym, "src", bcast = false)
    val labels = symP.select(col("src").as("node")).distinct()
      .withColumn("label", col("node")).localCheckpoint(true)
    dump("glb_lpa_round.txt",
      graft.graph.LabelPropagation.lpaRound(symP, labels))
    val ed = symP.join(symP.groupBy("src").agg(count(lit(1)).as("deg")),
      "src").persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    ed.count()
    val ranks = labels.select(col("node"), col("label").as("r"))
      .localCheckpoint(true)
    dump("glb_pr_round.txt",
      graft.graph.PageRank.prContrib(ed, ranks, 17L, 20L))
    val (j, rho) = HllRegisters.register(col("node"))
    val state = labels.select(col("node"), hllInit(j, rho).as("regs"))
      .localCheckpoint(true)
    dump("glb_hyperball_round.txt",
      graft.graph.HyperBall.ballRound(symP, state))
    spark.sharedState.cacheManager.clearCache()
  }
}
