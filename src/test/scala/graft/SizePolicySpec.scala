package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.graph.{Bfs, SizePolicy}

/** SizePolicy's shared node sketch, over a persisted edge frame
  * (`measure`) and over Bfs's primitive edge blocks: the exact row
  * count and a bounded upper estimate of the distinct endpoints, from
  * the one action that also materializes the cache. */
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
}
