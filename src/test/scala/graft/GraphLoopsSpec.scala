package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.graph.{Bfs, Components, GraphStats, HyperBall, KCore,
  LabelPropagation, LinkPrediction, PageRank, Reachability, Triangles}
import graft.graph.SizePolicy.forcing

/** The distributed graph loops against their driver finishes, row for
  * row; `SizePolicy.forcing` around a call picks its branch. PageRank,
  * HyperBall and LabelPropagation have one distributed path
  * (pre-partitioned edge cache + shuffled-hash state side): driver
  * finish == distributed (`driverMaxEdges = 0L`). Bfs, Components,
  * KCore and Reachability keep a broadcast branch: driver finish ==
  * broadcast == shuffled-hash fallback (also `broadcastBytes = 0L`).
  * Plus: the pre-partitioned paths are shuffle-partition invariant
  * (their `repartition(col(key))` makes the partition count part of
  * the physical plan), rows with a null endpoint are dropped on every
  * path, and no edge cache outlives a call.
  */
class GraphLoopsSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("\u0000"))

  private def randomEdges(seed: Int, n: Int, m: Int)
    : Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(m) {
      val a = rnd.nextInt(n).toLong
      val b = rnd.nextInt(n).toLong
      (math.min(a, b), math.max(a, b))
    }.filter(t => t._1 != t._2)
  }

  /** Every branch's rows equal the first's, which are non-empty;
    * returns them. */
  private def same(name: String, branches: (String, DataFrame)*)
    : Seq[Seq[Any]] = {
    val (first, want) = (branches.head._1, rows(branches.head._2))
    assert(want.nonEmpty, s"$name: empty result")
    branches.tail.foreach { case (b, df) =>
      assert(rows(df) == want, s"$name: $first != $b")
    }
    spark.sharedState.cacheManager.clearCache()
    want
  }

  test("LPA: driver == distributed") {
    (1 to 2).foreach { seed =>
      val edges = randomEdges(seed, 40, 70).toDF("id1", "id2")
      same(s"lpa seed=$seed",
        "driver" -> LabelPropagation.run(edges, 3),
        "distributed" -> forcing(driverMaxEdges = 0L)(LabelPropagation.run(edges, 3)))
    }
  }

  test("BFS: driver == broadcast == shuffled-hash fallback " +
    "(directed, duplicate edges, partial reachability)") {
    (1 to 2).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val es = Seq.fill(90)((rnd.nextInt(30).toLong,
        rnd.nextInt(30).toLong))
      val edges = es.toDF("src", "dst")
      val seeds = Seq.fill(5)(rnd.nextInt(40).toLong).toDF("node")
      same(s"bfs seed=$seed",
        "driver" -> Bfs.hopDistances(edges, seeds, 3),
        "broadcast" -> forcing(driverMaxEdges = 0L)(Bfs.hopDistances(edges, seeds, 3)),
        "fallback" -> forcing(driverMaxEdges = 0L, broadcastBytes = 0L)(
          Bfs.hopDistances(edges, seeds, 3)))
    }
  }

  test("HyperBall: driver == distributed (neighborhood + harmonic)") {
    val rnd = new scala.util.Random(7)
    val es = Seq.fill(60)((rnd.nextInt(25).toLong,
      rnd.nextInt(25).toLong))
    val edges = (es ++ es.map(_.swap)).toDF("src", "dst")
    same("hyperball neighborhood",
      "driver" -> HyperBall.neighborhood(edges, 2),
      "distributed" -> forcing(driverMaxEdges = 0L)(HyperBall.neighborhood(edges, 2)))
    same("hyperball harmonic",
      "driver" -> HyperBall.harmonicCentrality(edges, 2),
      "distributed" -> forcing(driverMaxEdges = 0L)(
        HyperBall.harmonicCentrality(edges, 2)))
  }

  test("PageRank + personalized + block: driver == distributed") {
    val rnd = new scala.util.Random(11)
    val es = Seq.fill(80)((rnd.nextInt(25).toLong,
      rnd.nextInt(25).toLong)).filter(t => t._1 != t._2)
    val edges = (es ++ es.map(_.swap)).toDF("src", "dst")
    same("pagerank",
      "driver" -> PageRank.pageRank(edges, iters = 3),
      "distributed" -> forcing(driverMaxEdges = 0L)(PageRank.pageRank(edges, iters = 3)))
    val seeds = Seq(1L, 4L, 9L).toDF("node")
    same("personalized",
      "driver" -> PageRank.personalized(edges, seeds, iters = 3),
      "distributed" -> forcing(driverMaxEdges = 0L)(
        PageRank.personalized(edges, seeds, iters = 3)))
    val cohorts = Seq((0L, 1L), (0L, 4L), (1L, 2L), (1L, 9L))
      .toDF("cohort", "node")
    same("blockPersonalized",
      "driver" -> PageRank.blockPersonalized(edges, cohorts, iters = 3),
      "distributed" -> forcing(driverMaxEdges = 0L)(
        PageRank.blockPersonalized(edges, cohorts, iters = 3)))
  }

  test("Components: driver == broadcast == shuffled-hash fallback " +
    "(incl. pointer jumping and the convergence check)") {
    (1 to 2).foreach { seed =>
      val edges = randomEdges(seed, 40, 55).toDF("id1", "id2")
      val nodes = (0L until 40L).toDF("id")
      same(s"components seed=$seed",
        "driver" -> Components.connectedComponents(nodes, edges),
        "broadcast" -> forcing(driverMaxEdges = 0L)(
          Components.connectedComponents(nodes, edges)),
        "fallback" -> forcing(driverMaxEdges = 0L, broadcastBytes = 0L)(
          Components.connectedComponents(nodes, edges)))
    }
  }

  test("KCore: driver == broadcast == shuffled-hash fallback") {
    (1 to 2).foreach { seed =>
      val edges = randomEdges(seed, 25, 90).toDF("id1", "id2")
      same(s"kcore seed=$seed",
        "driver" -> KCore.kcore(edges, k = 3, rounds = 4),
        "broadcast" -> forcing(driverMaxEdges = 0L)(KCore.kcore(edges, k = 3, rounds = 4)),
        "fallback" -> forcing(driverMaxEdges = 0L, broadcastBytes = 0L)(
          KCore.kcore(edges, k = 3, rounds = 4)))
    }
  }

  test("Reachability: driver == broadcast == shuffled-hash fallback") {
    val rnd = new scala.util.Random(5)
    val es = Seq.fill(70)((rnd.nextInt(30).toLong,
      rnd.nextInt(30).toLong)).filter(t => t._1 != t._2)
    val edges = es.toDF("child", "parent")
    val targets = Seq(0L, 3L, 7L).toDF("node")
    same("reachingSet",
      "driver" -> Reachability.reachingSet(edges, targets),
      "broadcast" -> forcing(driverMaxEdges = 0L)(Reachability.reachingSet(edges, targets)),
      "fallback" -> forcing(driverMaxEdges = 0L, broadcastBytes = 0L)(
        Reachability.reachingSet(edges, targets)))
  }

  test("pre-partitioned distributed paths are shuffle-partition " +
    "invariant (4 vs 7)") {
    val edges = randomEdges(3, 40, 70).toDF("id1", "id2")
    val rnd = new scala.util.Random(3)
    val des = Seq.fill(90)((rnd.nextInt(30).toLong,
      rnd.nextInt(30).toLong))
    val dedges = des.toDF("src", "dst")
    val seeds = Seq.fill(5)(rnd.nextInt(40).toLong).toDF("node")
    def all(parts: String): Seq[Seq[Seq[Any]]] = {
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try Seq(
        rows(forcing(driverMaxEdges = 0L)(LabelPropagation.run(edges, 3))),
        rows(forcing(driverMaxEdges = 0L, broadcastBytes = 0L)(
          Bfs.hopDistances(dedges, seeds, 3))),
        rows(forcing(driverMaxEdges = 0L)(HyperBall.neighborhood(dedges, 2))),
        rows(forcing(driverMaxEdges = 0L)(PageRank.pageRank(
          dedges.union(dedges.select(col("dst").as("src"),
            col("src").as("dst"))), iters = 3))))
      finally spark.sharedState.cacheManager.clearCache()
    }
    val a = all("4")
    val b = all("7")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    assert(a.forall(_.nonEmpty))
    assert(a == b, "distributed results differ between 4 and 7 partitions")
  }

  test("null endpoints: PageRank and HyperBall drop the row, " +
    "driver == distributed") {
    val edges = Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(2L)), (Some(2L), Some(1L)), (Some(2L), None),
      (None, Some(3L)), (Some(3L), Some(2L)), (Some(2L), Some(3L)),
      (Some(4L), None), (Some(3L), Some(1L)), (Some(1L), Some(3L)))
      .toDF("src", "dst")
    val pr = same("pagerank nulls",
      "driver" -> PageRank.pageRank(edges, iters = 3),
      "distributed" -> forcing(driverMaxEdges = 0L)(PageRank.pageRank(edges, iters = 3)))
    val hb = same("hyperball nulls",
      "driver" -> HyperBall.neighborhood(edges, 2),
      "distributed" -> forcing(driverMaxEdges = 0L)(HyperBall.neighborhood(edges, 2)))
    assert(pr.map(_.head) == Seq(1L, 2L, 3L))
    assert(hb.map(_.head) == Seq(1L, 2L, 3L))
  }

  // ---- no edge cache outlives a call ---------------------------------

  private val chain = randomEdges(4, 20, 40)
  /** Edge rows whose last one raises when the frame is evaluated. */
  private def failingEdges(a: String, b: String): DataFrame =
    spark.range(4).select(col("id").as(a),
      when(col("id") < 3, col("id") + 1)
        .otherwise(raise_error(lit("edge failure"))).as(b))

  /** Neither the forced-distributed `call` nor any of the `failing`
    * calls (each must throw) leaves a cache entry or a persisted RDD
    * besides local checkpoints. */
  private def noCacheOutlives(name: String, call: => DataFrame,
                              failing: (() => DataFrame)*): Unit = {
    spark.sharedState.cacheManager.clearCache()
    val left = persistedBy(call.collect())
    assert(left.isEmpty, s"$name left persisted RDDs $left")
    failing.zipWithIndex.foreach { case (f, i) =>
      val leftOnFailure = persistedBy(intercept[Exception](f().collect()))
      assert(leftOnFailure.isEmpty,
        s"$name left persisted RDDs $leftOnFailure after failure $i")
    }
    assert(spark.sharedState.cacheManager.isEmpty,
      s"$name: a cache entry outlived the call")
  }

  test("Components: no edge cache outlives a call, also when it throws") {
    val edges = chain.toDF("id1", "id2")
    val nodes = (0L until 20L).toDF("id")
    val failingNodes = spark.range(20).select(when(col("id") < 19,
      col("id")).otherwise(raise_error(lit("node failure"))).as("id"))
    noCacheOutlives("components fallback",
      forcing(driverMaxEdges = 0L, broadcastBytes = 0L)(
        Components.connectedComponents(nodes, edges)))
    noCacheOutlives("components",
      forcing(driverMaxEdges = 0L)(Components.connectedComponents(nodes, edges)),
      () => forcing(driverMaxEdges = 0L)(Components.connectedComponents(nodes,
        failingEdges("id1", "id2"))),
      () => forcing(driverMaxEdges = 0L)(
        Components.connectedComponents(failingNodes, edges)))
  }

  test("PageRank: no edge cache outlives a call, also when it throws") {
    val edges = (chain ++ chain.map(_.swap)).toDF("src", "dst")
    val cohorts = Seq((0L, 1L), (1L, 2L)).toDF("cohort", "node")
    val noSeed = Seq(99L).toDF("node")
    noCacheOutlives("pageRank",
      forcing(driverMaxEdges = 0L)(PageRank.pageRank(edges, iters = 2)),
      () => forcing(driverMaxEdges = 0L)(
        PageRank.pageRank(failingEdges("src", "dst"), iters = 2)),
      () => forcing(driverMaxEdges = 0L)(
        PageRank.personalized(edges, noSeed, iters = 2)))
    noCacheOutlives("blockPersonalized",
      forcing(driverMaxEdges = 0L)(PageRank.blockPersonalized(edges, cohorts, iters = 2)),
      () => forcing(driverMaxEdges = 0L)(PageRank.blockPersonalized(edges,
        Seq((0L, 99L)).toDF("cohort", "node"), iters = 2)))
  }

  test("HyperBall: no edge cache outlives a call, also when it throws") {
    val edges = (chain ++ chain.map(_.swap)).toDF("src", "dst")
    noCacheOutlives("neighborhood",
      forcing(driverMaxEdges = 0L)(HyperBall.neighborhood(edges, 2)),
      () => forcing(driverMaxEdges = 0L)(
        HyperBall.neighborhood(failingEdges("src", "dst"), 2)))
    noCacheOutlives("harmonicCentrality",
      forcing(driverMaxEdges = 0L)(HyperBall.harmonicCentrality(edges, 2)))
  }

  test("LPA: no edge cache outlives a call, also when it throws") {
    val edges = chain.toDF("id1", "id2")
    noCacheOutlives("lpa",
      forcing(driverMaxEdges = 0L)(LabelPropagation.run(edges, 2)),
      () => forcing(driverMaxEdges = 0L)(
        LabelPropagation.run(failingEdges("id1", "id2"), 2)))
  }

  private val failingLabels = spark.range(20).select(col("id").as("node"),
    when(col("id") < 19, col("id"))
      .otherwise(raise_error(lit("label failure"))).as("label"))

  test("LPA modularityPpm: no edge cache outlives a call, also when it " +
    "throws") {
    val edges = chain.toDF("id1", "id2")
    val labels = LabelPropagation.run(edges, 2)
    noCacheOutlives("modularityPpm",
      forcing(driverMaxEdges = 0L)(LabelPropagation.modularityPpm(edges, labels)),
      () => forcing(driverMaxEdges = 0L)(LabelPropagation.modularityPpm(
        failingEdges("id1", "id2"), labels)),
      () => forcing(driverMaxEdges = 0L)(
        LabelPropagation.modularityPpm(edges, failingLabels)))
  }

  test("LPA refineMerge: no edge cache outlives a call, also when it " +
    "throws") {
    val edges = chain.toDF("id1", "id2")
    val labels = LabelPropagation.run(edges, 2)
    noCacheOutlives("refineMerge",
      forcing(driverMaxEdges = 0L)(LabelPropagation.refineMerge(edges, labels)),
      () => forcing(driverMaxEdges = 0L)(LabelPropagation.refineMerge(
        failingEdges("id1", "id2"), labels)),
      () => forcing(driverMaxEdges = 0L)(
        LabelPropagation.refineMerge(edges, failingLabels)))
  }

  test("KCore: no edge cache outlives a call, also when it throws") {
    val edges = chain.toDF("id1", "id2")
    noCacheOutlives("kcore fallback",
      forcing(driverMaxEdges = 0L, broadcastBytes = 0L)(
        KCore.kcore(edges, k = 2, rounds = 2)))
    noCacheOutlives("kcore",
      forcing(driverMaxEdges = 0L)(KCore.kcore(edges, k = 2, rounds = 2)),
      () => forcing(driverMaxEdges = 0L)(
        KCore.kcore(failingEdges("id1", "id2"), k = 2, rounds = 2)))
  }

  test("Reachability: no edge cache outlives a call, also when it " +
    "throws") {
    val edges = chain.toDF("child", "parent")
    val targets = Seq(0L, 3L).toDF("node")
    val failingTargets = spark.range(3).select(when(col("id") < 2,
      col("id")).otherwise(raise_error(lit("target failure"))).as("node"))
    noCacheOutlives("reachingSet fallback",
      forcing(driverMaxEdges = 0L, broadcastBytes = 0L)(
        Reachability.reachingSet(edges, targets)))
    noCacheOutlives("reachingSet",
      forcing(driverMaxEdges = 0L)(Reachability.reachingSet(edges, targets)),
      () => forcing(driverMaxEdges = 0L)(
        Reachability.reachingSet(failingEdges("child", "parent"), targets)),
      () => forcing(driverMaxEdges = 0L)(
        Reachability.reachingSet(edges, failingTargets)))
  }

  test("Triangles: no edge cache outlives a call, also when it throws") {
    val edges = chain.toDF("id1", "id2")
    for ((name, op) <- Seq[(String, DataFrame => DataFrame)](
        "count" -> (Triangles.count(_)), "perNode" -> (Triangles.perNode(_))))
      noCacheOutlives(name,
        forcing(driverMaxEdges = 0L)(op(edges)),
        () => forcing(driverMaxEdges = 0L)(op(failingEdges("id1", "id2"))))
  }

  test("LinkPrediction and GraphStats: no edge cache outlives a call, " +
    "also when it throws") {
    val edges = chain.toDF("id1", "id2")
    noCacheOutlives("jaccardCandidates",
      forcing(driverMaxEdges = 0L)(LinkPrediction.jaccardCandidates(edges)),
      () => forcing(driverMaxEdges = 0L)(
        LinkPrediction.jaccardCandidates(failingEdges("id1", "id2"))))
    noCacheOutlives("assortativityPpm",
      forcing(driverMaxEdges = 0L)(GraphStats.assortativityPpm(edges)),
      () => forcing(driverMaxEdges = 0L)(
        GraphStats.assortativityPpm(failingEdges("id1", "id2"))))
  }
}
