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

  test("hllAdd on a hash == HyperLogLogPlusPlusHelper.update on the " +
    "value: register words and query, longs and strings") {
    import org.apache.spark.sql.catalyst.expressions.{XXH64, XxHash64Function}
    import org.apache.spark.sql.types.{DataType, LongType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    val hll = SizePolicy.hll
    val rnd = new scala.util.Random(7)
    val longs = Seq(0L, 1L, -1L, Long.MinValue, Long.MaxValue) ++
      Seq.fill(20000)(rnd.nextLong()) ++ Seq.fill(2000)(rnd.nextInt(500).toLong - 250)
    val strings = Seq("", "a", "node-\u00e9") ++
      Seq.fill(5000)(rnd.alphanumeric.take(1 + rnd.nextInt(12)).mkString)
    def check(name: String, values: Seq[Any], t: DataType,
              hash: Any => Long): Unit = {
      val words = new Array[Long](hll.numWords)
      val row = SizePolicy.hllRow(new Array[Long](hll.numWords))
      values.foreach { v =>
        SizePolicy.hllAdd(words, hash(v))
        hll.update(row, 0, v, t)
      }
      assert(words.toSeq == (0 until hll.numWords).map(row.getLong), name)
      assert(hll.query(SizePolicy.hllRow(words), 0) == hll.query(row, 0), name)
      assert(words.exists(_ != 0L), name)
    }
    check("longs", longs, LongType, v => XXH64.hashLong(v.asInstanceOf[Long], 42L))
    check("longs via XxHash64Function", longs, LongType,
      XxHash64Function.hash(_, LongType, 42L))
    check("strings", strings.map(UTF8String.fromString), StringType,
      XxHash64Function.hash(_, StringType, 42L))
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
