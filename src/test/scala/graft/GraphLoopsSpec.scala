package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.graph.{Bfs, Components, HyperBall, KCore, LabelPropagation,
  PageRank, Reachability}

/** The distributed graph loops against their driver finishes, row for
  * row. PageRank, HyperBall and LabelPropagation have one distributed
  * path (pre-partitioned edge cache + shuffled-hash state side):
  * driver finish == distributed (`driverFinishMaxEdges = 0`). Bfs,
  * Components, KCore and Reachability keep a broadcast branch: driver
  * finish == broadcast == shuffled-hash fallback
  * (`maxBroadcastBytes = 0`).
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
        "distributed" -> LabelPropagation.run(edges, 3,
          driverFinishMaxEdges = 0L))
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
        "broadcast" -> Bfs.hopDistances(edges, seeds, 3,
          driverFinishMaxEdges = 0L),
        "fallback" -> Bfs.hopDistances(edges, seeds, 3,
          driverFinishMaxEdges = 0L, maxBroadcastBytes = 0L))
    }
  }

  test("HyperBall: driver == distributed (neighborhood + harmonic)") {
    val rnd = new scala.util.Random(7)
    val es = Seq.fill(60)((rnd.nextInt(25).toLong,
      rnd.nextInt(25).toLong))
    val edges = (es ++ es.map(_.swap)).toDF("src", "dst")
    same("hyperball neighborhood",
      "driver" -> HyperBall.neighborhood(edges, 2),
      "distributed" -> HyperBall.neighborhood(edges, 2,
        driverFinishMaxEdges = 0L))
    same("hyperball harmonic",
      "driver" -> HyperBall.harmonicCentrality(edges, 2),
      "distributed" -> HyperBall.harmonicCentrality(edges, 2,
        driverFinishMaxEdges = 0L))
  }

  test("PageRank + personalized + block: driver == distributed") {
    val rnd = new scala.util.Random(11)
    val es = Seq.fill(80)((rnd.nextInt(25).toLong,
      rnd.nextInt(25).toLong)).filter(t => t._1 != t._2)
    val edges = (es ++ es.map(_.swap)).toDF("src", "dst")
    same("pagerank",
      "driver" -> PageRank.pageRank(edges, iters = 3),
      "distributed" -> PageRank.pageRank(edges, iters = 3,
        driverFinishMaxEdges = 0L))
    val seeds = Seq(1L, 4L, 9L).toDF("node")
    same("personalized",
      "driver" -> PageRank.personalized(edges, seeds, iters = 3),
      "distributed" -> PageRank.personalized(edges, seeds, iters = 3,
        driverFinishMaxEdges = 0L))
    val cohorts = Seq((0L, 1L), (0L, 4L), (1L, 2L), (1L, 9L))
      .toDF("cohort", "node")
    same("blockPersonalized",
      "driver" -> PageRank.blockPersonalized(edges, cohorts, iters = 3),
      "distributed" -> PageRank.blockPersonalized(edges, cohorts,
        iters = 3, driverFinishMaxEdges = 0L))
  }

  test("Components: driver == broadcast == shuffled-hash fallback " +
    "(incl. pointer jumping and the convergence check)") {
    (1 to 2).foreach { seed =>
      val edges = randomEdges(seed, 40, 55).toDF("id1", "id2")
      val nodes = (0L until 40L).toDF("id")
      same(s"components seed=$seed",
        "driver" -> Components.connectedComponents(nodes, edges),
        "broadcast" -> Components.connectedComponents(nodes, edges,
          driverFinishMaxEdges = 0L),
        "fallback" -> Components.connectedComponents(nodes, edges,
          driverFinishMaxEdges = 0L, maxBroadcastBytes = 0L))
    }
  }

  test("KCore: driver == broadcast == shuffled-hash fallback") {
    (1 to 2).foreach { seed =>
      val edges = randomEdges(seed, 25, 90).toDF("id1", "id2")
      same(s"kcore seed=$seed",
        "driver" -> KCore.kcore(edges, k = 3, rounds = 4),
        "broadcast" -> KCore.kcore(edges, k = 3, rounds = 4,
          driverFinishMaxEdges = 0L),
        "fallback" -> KCore.kcore(edges, k = 3, rounds = 4,
          driverFinishMaxEdges = 0L, maxBroadcastBytes = 0L))
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
      "broadcast" -> Reachability.reachingSet(edges, targets,
        driverFinishMaxEdges = 0L),
      "fallback" -> Reachability.reachingSet(edges, targets,
        driverFinishMaxEdges = 0L, maxBroadcastBytes = 0L))
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
        rows(LabelPropagation.run(edges, 3, driverFinishMaxEdges = 0L)),
        rows(Bfs.hopDistances(dedges, seeds, 3,
          driverFinishMaxEdges = 0L, maxBroadcastBytes = 0L)),
        rows(HyperBall.neighborhood(dedges, 2, driverFinishMaxEdges = 0L)),
        rows(PageRank.pageRank(
          dedges.union(dedges.select(col("dst").as("src"),
            col("src").as("dst"))), iters = 3,
          driverFinishMaxEdges = 0L)))
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
      "distributed" -> PageRank.pageRank(edges, iters = 3,
        driverFinishMaxEdges = 0L))
    val hb = same("hyperball nulls",
      "driver" -> HyperBall.neighborhood(edges, 2),
      "distributed" -> HyperBall.neighborhood(edges, 2,
        driverFinishMaxEdges = 0L))
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
      Components.connectedComponents(nodes, edges,
        driverFinishMaxEdges = 0L, maxBroadcastBytes = 0L))
    noCacheOutlives("components",
      Components.connectedComponents(nodes, edges,
        driverFinishMaxEdges = 0L),
      () => Components.connectedComponents(nodes,
        failingEdges("id1", "id2"), driverFinishMaxEdges = 0L),
      () => Components.connectedComponents(failingNodes, edges,
        driverFinishMaxEdges = 0L))
  }

  test("PageRank: no edge cache outlives a call, also when it throws") {
    val edges = (chain ++ chain.map(_.swap)).toDF("src", "dst")
    val cohorts = Seq((0L, 1L), (1L, 2L)).toDF("cohort", "node")
    val noSeed = Seq(99L).toDF("node")
    noCacheOutlives("pageRank",
      PageRank.pageRank(edges, iters = 2, driverFinishMaxEdges = 0L),
      () => PageRank.pageRank(failingEdges("src", "dst"), iters = 2,
        driverFinishMaxEdges = 0L),
      () => PageRank.personalized(edges, noSeed, iters = 2,
        driverFinishMaxEdges = 0L))
    noCacheOutlives("blockPersonalized",
      PageRank.blockPersonalized(edges, cohorts, iters = 2,
        driverFinishMaxEdges = 0L),
      () => PageRank.blockPersonalized(edges,
        Seq((0L, 99L)).toDF("cohort", "node"), iters = 2,
        driverFinishMaxEdges = 0L))
  }

  test("HyperBall: no edge cache outlives a call, also when it throws") {
    val edges = (chain ++ chain.map(_.swap)).toDF("src", "dst")
    noCacheOutlives("neighborhood",
      HyperBall.neighborhood(edges, 2, driverFinishMaxEdges = 0L),
      () => HyperBall.neighborhood(failingEdges("src", "dst"), 2,
        driverFinishMaxEdges = 0L))
    noCacheOutlives("harmonicCentrality",
      HyperBall.harmonicCentrality(edges, 2, driverFinishMaxEdges = 0L))
  }

  test("LPA: no edge cache outlives a call, also when it throws") {
    val edges = chain.toDF("id1", "id2")
    noCacheOutlives("lpa",
      LabelPropagation.run(edges, 2, driverFinishMaxEdges = 0L),
      () => LabelPropagation.run(failingEdges("id1", "id2"), 2,
        driverFinishMaxEdges = 0L))
  }
}
