package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.graph.{Bfs, PageRank, SizePolicy}
import graft.graph.SizePolicy.forcing

/** SizePolicy's shared node sketch, over a persisted edge frame
  * (`measure`) and over Bfs's primitive edge blocks: the exact row
  * count and a bounded upper estimate of the distinct endpoints, from
  * the one action that also materializes the cache. And `forcing`, the
  * one way to move the caps: scoped to its block and its thread, and
  * loud when no gate read what it set. */
class SizePolicySpec extends SparkSpec {

  private def edgesOf(n: Long, m: Long, strings: Boolean): DataFrame = {
    val raw = spark.range(m).select(
      pmod(xxhash64(lit(1), col("id")), lit(n)).as("src"),
      pmod(xxhash64(lit(2), col("id")), lit(n)).as("dst"))
    if (strings) raw.select(concat(lit("n"), col("src")).as("src"),
      concat(lit("n"), col("dst")).as("dst"))
    else raw
  }

  private val slack = 1 + SizePolicy.nodesMargin + 3 * SizePolicy.nodesRsd

  private def exactNodes(e: DataFrame): Long =
    e.select(col("src").as("x")).union(e.select(col("dst").as("x")))
      .distinct().count()

  test("measure: exact rows, nodesUpper within [exact, (1 + margin + " +
    "3 rsd) × exact], cache loaded") {
    for ((n, m) <- Seq((1000L, 3000L), (100000L, 300000L));
         strings <- Seq(false, true)) {
      val name = s"n=$n strings=$strings"
      val e = edgesOf(n, m, strings).persist(StorageLevel.MEMORY_AND_DISK)
      val (rows, upper) = SizePolicy.measure(e, "src", "dst")
      val cached = spark.sharedState.cacheManager
        .lookupCachedData(e.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      assert(cached.exists(_.cachedRepresentation.cacheBuilder
        .isCachedColumnBuffersLoaded), s"$name: cache not materialized")
      val exact = exactNodes(e)
      assert(rows == m, name)
      assert(upper >= exact, s"$name: $upper < exact $exact")
      assert(upper <= slack * exact, s"$name: $upper > $slack × $exact")
      e.unpersist(true)
    }
  }

  test("Bfs block measure: exact rows, nodesUpper within [exact, (1 + " +
    "margin + 3 rsd) × exact], blocks loaded") {
    val sc = spark.sparkContext
    for ((n, m) <- Seq((1000L, 3000L), (100000L, 300000L))) {
      val e = edgesOf(n, m, strings = false)
      val blocks = Bfs.edgeBlocks(e)
      try {
        val (rows, upper) = Bfs.measure(blocks)
        assert(sc.getRDDStorageInfo.exists(i => i.id == blocks.id &&
          i.numCachedPartitions == blocks.getNumPartitions),
          s"n=$n: blocks not materialized")
        val exact = exactNodes(e)
        assert(rows == m, s"n=$n")
        assert(upper >= exact, s"n=$n: $upper < exact $exact")
        assert(upper <= slack * exact, s"n=$n: $upper > $slack × $exact")
      } finally blocks.unpersist(true)
    }
  }

  /** The (driver-finish, broadcast) decisions for a one-row input. */
  private def gates: (Boolean, Boolean) =
    (SizePolicy.driverFinish(1L), SizePolicy.broadcasts(1L, 1L))

  test("forcing restores the caps after a normal exit, a throw and a " +
    "nested block") {
    assert(gates == ((true, true)))
    assert(forcing(driverMaxEdges = 0L)(gates) == ((false, true)))
    assert(gates == ((true, true)))
    val thrown = intercept[RuntimeException](forcing(broadcastBytes = 0L) {
      assert(gates == ((true, false)))
      throw new RuntimeException("body failed")
    })
    assert(thrown.getMessage == "body failed")
    assert(gates == ((true, true)))
    forcing(driverMaxEdges = 0L) {
      assert(forcing(broadcastBytes = 0L)(gates) == ((false, false)))
      assert(gates == ((false, true)))
    }
    assert(gates == ((true, true)))
  }

  test("forcing does not reach another thread") {
    var other: (Boolean, Boolean) = null
    forcing(driverMaxEdges = 0L, broadcastBytes = 0L) {
      assert(gates == ((false, false)))
      val t = new Thread(() => other = gates)
      t.start()
      t.join()
    }
    assert(other == ((true, true)))
  }

  test("forcing rejects a block in which no gate read a cap it set") {
    import spark.implicits._
    intercept[IllegalStateException](forcing()(()))
    intercept[IllegalStateException](forcing(driverMaxEdges = 0L)(()))
    intercept[IllegalStateException](
      forcing(broadcastBytes = 0L)(SizePolicy.driverFinish(1L)))
    // PageRank has no broadcast gate: forcing one compares nothing
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    intercept[IllegalStateException](
      forcing(broadcastBytes = 0L)(PageRank.pageRank(edges, iters = 1)))
    // an inner block's read of a cap it kept counts for the outer one
    forcing(driverMaxEdges = 0L) {
      forcing(broadcastBytes = 0L)(gates)
    }
    assert(gates == ((true, true)))
  }
}
