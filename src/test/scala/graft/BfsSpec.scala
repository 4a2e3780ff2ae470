package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, raise_error, when}
import org.apache.spark.sql.types.IntegerType

import graft.graph.Bfs
import graft.graph.SizePolicy.forcing

/** Bfs.hopDistances' three branches on the edge cases of its seed
  * guard, hop cap and null endpoints, the cost shape of the
  * driver-state rounds, and that no edge cache outlives a call.
  * Driver finish (default gates, small graphs) == driver-state rounds
  * (`SizePolicy.forcing(driverMaxEdges = 0L)`) == shuffled-hash
  * fallback (plus `broadcastBytes = 0L`), row for row and in schema.
  */
class BfsSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("\u0000"))

  private val branches: Seq[(String, Long, Long)] = Seq(
    ("driver finish", graft.graph.SizePolicy.driverMaxEdges,
      graft.graph.SizePolicy.broadcastBytes),
    ("driver-state rounds", 0L, graft.graph.SizePolicy.broadcastBytes),
    ("fallback", 0L, 0L))

  /** The three branches' results, asserted equal; returns one. */
  private def allBranches(name: String, edges: DataFrame,
                          seeds: DataFrame, hops: Int): DataFrame = {
    val Seq(drv, rounds, fb) = branches.map { case (_, maxEdges, maxBytes) =>
      forcing(maxEdges, maxBytes)(Bfs.hopDistances(edges, seeds, hops))
    }
    assert(rows(drv) == rows(rounds), s"$name: driver != driver-state rounds")
    assert(rows(rounds) == rows(fb), s"$name: driver-state rounds != fallback")
    assert(drv.schema("node").dataType == rounds.schema("node").dataType &&
      rounds.schema("node").dataType == fb.schema("node").dataType,
      s"$name: node types differ")
    spark.sharedState.cacheManager.clearCache()
    drv
  }

  // 1 → 2 → 3 → 4, 5 → 2, 6 → 1; node 3 is a sink-side seed below
  private val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 2L), (6L, 1L))

  test("a seed with no out-edge that another seed reaches gets its hop count") {
    // 4 has no out-edge: dropped as a seed, but 3 reaches it at hop 1
    val got = allBranches("sink seed", chain.toDF("src", "dst"),
      Seq(3L, 4L).toDF("node"), 3)
    assert(rows(got) == Seq(Seq(3L, 0L), Seq(4L, 1L)))
  }

  test("a seed absent from the graph is dropped") {
    val got = allBranches("absent seed", chain.toDF("src", "dst"),
      Seq(99L, 5L).toDF("node"), 3)
    assert(rows(got) == Seq(Seq(2L, 1L), Seq(3L, 2L), Seq(4L, 3L),
      Seq(5L, 0L)))
  }

  test("maxHops = 0 returns only the guarded seeds") {
    val got = allBranches("zero hops", chain.toDF("src", "dst"),
      Seq(1L, 4L, 6L, 99L).toDF("node"), 0)
    assert(rows(got) == Seq(Seq(1L, 0L), Seq(6L, 0L)))
  }

  test("null endpoints: a null src never expands, a null dst is never " +
    "reached, a src with only null-dst out-edges passes the seed guard") {
    val edges = Seq[(java.lang.Long, java.lang.Long)]((1L, 2L), (2L, 1L),
      (2L, null), (null, 3L), (3L, 2L), (2L, 3L), (4L, null))
      .toDF("src", "dst")
    val got = allBranches("nulls", edges, Seq(1L, 4L).toDF("node"), 3)
    assert(rows(got) == Seq(Seq(1L, 0L), Seq(2L, 1L), Seq(3L, 2L),
      Seq(4L, 0L)))
  }

  test("no edge cache outlives a call, on every branch and when the " +
    "seeds fail") {
    val edges = chain.toDF("src", "dst")
    val seeds = Seq(1L, 5L).toDF("node")
    // the third seed row raises when the frame is evaluated
    val failing = spark.range(4).select(when(col("id") < 3, col("id"))
      .otherwise(raise_error(lit("seed failure"))).as("node"))
    for ((name, maxEdges, maxBytes) <- branches) {
      spark.sharedState.cacheManager.clearCache()
      val left = persistedBy(forcing(maxEdges, maxBytes)(
        Bfs.hopDistances(edges, seeds, 3)).collect())
      assert(left.isEmpty, s"$name left persisted RDDs $left")
      val leftOnFailure = persistedBy(intercept[Exception](
        forcing(maxEdges, maxBytes)(Bfs.hopDistances(edges, failing, 3))
          .collect()))
      assert(leftOnFailure.isEmpty,
        s"$name left persisted RDDs $leftOnFailure after a failure")
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$name: a cache entry outlived the call")
    }
  }

  test("Int-typed ids keep IntegerType") {
    val got = allBranches("int ids",
      chain.map { case (a, b) => (a.toInt, b.toInt) }.toDF("src", "dst"),
      Seq(6, 5).toDF("node"), 2)
    assert(got.schema("node").dataType == IntegerType)
    assert(rows(got) == Seq(Seq(1, 1L), Seq(2, 1L), Seq(3, 2L),
      Seq(5, 0L), Seq(6, 0L)))
  }

  // "no cache entry" covers both the CacheManager and persisted RDDs
  test("driver-state rounds: no shuffle, at most maxHops + 3 jobs, " +
    "no cache entry left") {
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(400)((rnd.nextInt(150).toLong,
      rnd.nextInt(150).toLong)).toDF("src", "dst")
    val seeds = Seq(1L, 2L, 3L).toDF("node")
    val hops = 3
    spark.sharedState.cacheManager.clearCache()
    var jobs = 0
    var shuffleBytes = 0L
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        synchronized { jobs += 1 }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
        if (e.taskMetrics != null)
          shuffleBytes += e.taskMetrics.shuffleWriteMetrics.bytesWritten
      }
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerDrain(sc)
    sc.addSparkListener(listener)
    var got = Seq.empty[Seq[Any]]
    val left =
      try persistedBy {
        got = rows(forcing(driverMaxEdges = 0L)(
          Bfs.hopDistances(edges, seeds, hops)))
        org.apache.spark.ListenerDrain(sc)
      } finally sc.removeSparkListener(listener)
    assert(got.nonEmpty && got.exists(_(1) == hops.toLong))
    listener.synchronized {
      assert(shuffleBytes == 0L, s"shuffled $shuffleBytes bytes")
      assert(jobs <= hops + 3, s"$jobs jobs")
    }
    assert(spark.sharedState.cacheManager.isEmpty,
      "a cache entry outlived the call")
    assert(left.isEmpty, s"persisted RDDs $left outlived the call")
  }
}
