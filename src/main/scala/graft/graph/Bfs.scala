package graft.graph

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Multi-source BFS hop distances over an edge list.
  *
  * Reference analog: the related-collections graph walk of
  * precompute_related.py — "everything within k hops of this seed
  * set" is the traversal underneath any neighbourhood precompute;
  * here it is a first-class operator with an exact integer contract
  * (hop counts, not float scores), so a DuckDB oracle of unrolled
  * min-propagation CTEs can hash-match it round for round.
  *
  * Scale shape, by edge rows and reachable-state size:
  *  - at most 2M edges (SizePolicy.driverMaxEdges): one collect and
  *    an in-memory BFS over [[LocalGraph]];
  *  - above that, while every endpoint's `(node, dist)` row fits the
  *    broadcast cap: the node state lives on the driver and each hop
  *    is ONE job — the frontier and settled sets broadcast as
  *    primitive hash indexes, one `mapPartitions` scan of the
  *    persisted edge rows keeps the distinct `dst`s of frontier
  *    `src`s that are not yet settled, and the driver appends them as
  *    the next layer. No shuffle, join or checkpoint per hop; work
  *    per hop is one pass over the edges plus frontier-sized results;
  *  - past the cap: the textbook frontier-delta loop — per hop a
  *    join of the newly-settled layer against the edge cache
  *    pre-partitioned on `src` (SizePolicy.loopEdges), a distinct,
  *    an anti-join against the settled layers and an eager
  *    `localCheckpoint(true)` of the new layer only.
  *
  * Every branch keeps the same semantics: a node is expanded once
  * (first reach = min hops), duplicate edges are fanout only, and an
  * empty frontier ends the walk. Seeds without any outgoing edge are
  * dropped (mirrors the oracle's `node IN nodes` guard — for the
  * undirected graphs this serves, src-side membership IS node
  * membership), so both engines see the same reachable universe; such
  * a seed reached from another seed still gets its hop count.
  */
object Bfs {

  /** `(node, dist)` for every node within `maxHops` of the seed set;
    * `dist` is the exact minimum hop count (BIGINT). `edges` must
    * already contain both directions for an undirected walk. */
  def hopDistances(edges: DataFrame, seeds: DataFrame,
                   maxHops: Int,
                   driverFinishMaxEdges: Long = SizePolicy.driverMaxEdges,
                   maxBroadcastBytes: Long =
                     SizePolicy.broadcastBytes): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val e = edges.select(col("src"), col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // the first action materializes the edge cache and sizes both gates
    val (nEdges, nodesUpper) = SizePolicy.measure(e, "src", "dst")
    // RAW-EDGE exact driver finish: at ≤ driverFinishMaxEdges edge
    // ROWS the whole hop loop collapses to one collect and an
    // in-memory BFS with identical semantics (first reach = min hops;
    // duplicate edges are fanout only; seeds kept only when they
    // appear as a src). Spec-pinned equal to both distributed
    // branches (DriverFinishParitySpec, Round16OpsSpec); 0 forces the
    // distributed path.
    if (nEdges <= driverFinishMaxEdges) {
      val g = LocalGraph.collect(e)
      e.unpersist(false)
      val dist = Array.fill(g.n)(-1L)
      var frontier = seeds.select(col("node").cast("long")).collect()
        .map(r => g.index(r.getLong(0)))
        .filter(i => i >= 0 && g.degree(i) > 0).distinct
      frontier.foreach(dist(_) = 0L)
      var hop = 1
      while (hop <= maxHops && frontier.nonEmpty) {
        val next = Array.newBuilder[Int]
        for (i <- frontier; k <- g.offsets(i) until g.offsets(i + 1)) {
          val j = g.targets(k)
          if (dist(j) < 0L) { dist(j) = hop.toLong; next += j }
        }
        frontier = next.result()
        hop += 1
      }
      return g.toDF(dist.indices.filter(dist(_) >= 0L)
        .map(i => (g.ids(i), dist(i))), "node", "dist")
    }
    // The settled set can reach every endpoint, so the state gate
    // bounds it by |src ∪ dst| (the measured upper estimate).
    if (SizePolicy.fits(nodesUpper, SizePolicy.keyedLongRowBytes,
        maxBroadcastBytes)) {
      val out = driverStateRounds(e, seeds, maxHops)
      e.unpersist(false)
      return out
    }
    // Past the cap: the frontier and settled layers are joined per
    // hop against the pre-partitioned edge cache, each side still
    // broadcast while its free row count (the loop counts every
    // layer) fits, shuffled-hash otherwise.
    val seedLayer = seeds.select(col("node")).distinct()
      .join(e.select(col("src").as("node")), Seq("node"), "left_semi")
      .select(col("node"), lit(0L).as("dist"))
      .localCheckpoint(true)
    // seedLayer is checkpointed — e has no other reader left
    val eLoop = SizePolicy.loopEdges(e, "src", bcast = false)
    var layers = List(seedLayer)
    var frontier = seedLayer.select("node")
    var frontierSize = frontier.count()
    var settledCount = frontierSize
    var hop = 1
    while (hop <= maxHops && frontierSize > 0) {
      val settledNodes =
        layers.map(_.select("node")).reduce(_ union _)
      val fSide = SizePolicy.sideFor(
        frontier.withColumnRenamed("node", "src"),
        SizePolicy.fits(frontierSize, SizePolicy.keyedLongRowBytes,
          maxBroadcastBytes))
      val sSide = SizePolicy.sideFor(settledNodes,
        SizePolicy.fits(settledCount, SizePolicy.keyedLongRowBytes,
          maxBroadcastBytes))
      val next = eLoop
        .join(fSide, Seq("src"))
        .select(col("dst").as("node")).distinct()
        .join(sSide, Seq("node"), "left_anti")
        .select(col("node"), lit(hop.toLong).as("dist"))
        .localCheckpoint(true)
      frontierSize = next.count()
      settledCount += frontierSize
      layers = next :: layers
      frontier = next.select("node")
      hop += 1
    }
    eLoop.unpersist(false)
    layers.reduce(_ union _)
  }

  /** The hop rounds with the node state on the driver: `layers(k)`
    * holds the nodes at distance k, `settled` their sorted union. Hop
    * 1's scan also applies the seed guard: its frontier is every
    * candidate seed, the seeds it finds as a `src` form layer 0, and
    * what they reach outside layer 0 forms layer 1. */
  private def driverStateRounds(e: DataFrame, seeds: DataFrame,
                                maxHops: Int): DataFrame = {
    val edgeRows = e.select(col("src").cast("long"), col("dst").cast("long"))
      .queryExecution.toRdd
    var frontier = sortedDistinct(seeds.select(col("node").cast("long"))
      .collect().collect { case r if !r.isNullAt(0) => r.getLong(0) })
    var settled = Array.emptyLongArray
    val layers = ArrayBuffer.empty[Array[Long]]
    while (frontier.nonEmpty && layers.length <= maxHops) {
      val (hits, reached) = expand(edgeRows, frontier, settled)
      if (layers.isEmpty) { layers += hits; settled = hits }
      frontier =
        if (layers.length > maxHops) Array.emptyLongArray
        else reached.filter(java.util.Arrays.binarySearch(settled, _) < 0)
      if (frontier.nonEmpty) {
        layers += frontier
        settled = sortedDistinct(settled ++ frontier)
      }
    }
    val rows = layers.toSeq.zipWithIndex
      .flatMap { case (l, d) => l.map((_, d.toLong)) }
    e.sparkSession.createDataFrame(rows).toDF("node", "dist")
      .withColumn("node", col("node").cast(e.schema("src").dataType))
  }

  /** One hop as one job over the edge rows `(src, dst)`: the frontier
    * nodes found as a `src` (`hits`), and the distinct `dst`s of
    * those rows that are not `settled`, both sorted. Frontier and
    * settled set ship as one [[LongIndex]] broadcast each, destroyed
    * after the job; each task returns a bitmap over the frontier plus
    * its own distinct `dst`s. */
  private def expand(edgeRows: RDD[InternalRow], frontier: Array[Long],
                     settled: Array[Long]): (Array[Long], Array[Long]) = {
    val sc = edgeRows.sparkContext
    val bf = sc.broadcast(new LongIndex(frontier))
    val bs = sc.broadcast(new LongIndex(settled))
    val n = frontier.length
    val parts = try edgeRows.mapPartitions { rows =>
        val (f, s) = (bf.value, bs.value)
        val hit = new java.util.BitSet(n)
        val reached = new mutable.ArrayBuilder.ofLong
        rows.foreach { r =>
          val i = if (r.isNullAt(0)) -1 else f(r.getLong(0))
          if (i >= 0) {
            hit.set(i)
            if (!r.isNullAt(1) && s(r.getLong(1)) < 0) reached += r.getLong(1)
          }
        }
        Iterator.single((hit, sortedDistinct(reached.result())))
      }.collect()
      finally { bf.destroy(); bs.destroy() }
    val hit = new java.util.BitSet(n)
    parts.foreach(p => hit.or(p._1))
    (frontier.indices.filter(hit.get).map(frontier).toArray,
      sortedDistinct(parts.flatMap(_._2)))
  }

  /** `xs` sorted with duplicates dropped (sorts `xs` in place). */
  private def sortedDistinct(xs: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(xs)
    var n = 0
    for (k <- xs.indices) if (n == 0 || xs(k) != xs(n - 1)) { xs(n) = xs(k); n += 1 }
    java.util.Arrays.copyOf(xs, n)
  }
}

/** Open-addressing index over distinct `keys`: `apply(k)` is k's
  * position in `keys`, or -1. Two flat primitive arrays at load ≤ 1/2,
  * so a broadcast ships them as they are and a lookup boxes nothing. */
private final class LongIndex(keys: Array[Long]) extends Serializable {
  private val mask = (Integer.highestOneBit(math.max(1, keys.length)) << 2) - 1
  private val slotKey = new Array[Long](mask + 1)
  private val slotPos = Array.fill(mask + 1)(-1)
  locally { // a loop, not a closure: `keys` is not kept as a field
    var p = 0
    while (p < keys.length) {
      var i = slot(keys(p))
      while (slotPos(i) >= 0) i = (i + 1) & mask
      slotKey(i) = keys(p)
      slotPos(i) = p
      p += 1
    }
  }

  private def slot(k: Long): Int =
    java.lang.Long.hashCode(k * 0x9E3779B97F4A7C15L) & mask

  def apply(k: Long): Int = {
    var i = slot(k)
    while (slotPos(i) >= 0 && slotKey(i) != k) i = (i + 1) & mask
    slotPos(i)
  }
}
