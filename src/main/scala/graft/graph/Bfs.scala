package graft.graph

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.LocalFrames
import org.apache.spark.sql.types.DataType
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
  * Scale shape, by edge rows and reachable-state size. Every call
  * first reads `(src, dst)` as longs into primitive edge blocks — one
  * pair of `Array[Long]` per partition, persisted as an RDD — and the
  * job that materializes them also sizes both gates (exact rows and
  * an HLL++ node bound, [[SizePolicy.sketch]]). Then:
  *  - at most 2M edges (SizePolicy.driverMaxEdges): the blocks are
  *    collected into a [[LocalGraph]] (`fromPairs`) and the walk runs
  *    in memory;
  *  - above that, while every endpoint's `(node, dist)` row fits the
  *    broadcast cap: the node state lives on the driver and each hop
  *    is ONE job — the frontier and settled sets broadcast as
  *    primitive hash indexes, and a `while` loop over each block's
  *    two arrays keeps the distinct `dst`s of frontier `src`s that are
  *    not yet settled; the driver appends them as the next layer. No
  *    shuffle, join, checkpoint or row object per hop;
  *  - past the cap: the textbook frontier-delta loop — per hop a
  *    join of the newly-settled layer against an edge cache
  *    pre-partitioned on `src` (SizePolicy.loopEdges, built from
  *    `edges` only on this branch), a distinct, an anti-join against
  *    the settled layers and an eager `localCheckpoint(true)` of the
  *    new layer only.
  * The blocks are released before the call returns, on every branch
  * and on failure.
  *
  * Every branch keeps the same semantics: a node is expanded once
  * (first reach = min hops), duplicate edges are fanout only, and an
  * empty frontier ends the walk. Seeds without any outgoing edge are
  * dropped (mirrors the oracle's `node IN nodes` guard — for the
  * undirected graphs this serves, src-side membership IS node
  * membership), so both engines see the same reachable universe; such
  * a seed reached from another seed still gets its hop count. Nulls:
  * a null seed is dropped, a row with a null `src` never expands, a
  * null `dst` is never reached, and a `src` whose only out-edges have
  * a null `dst` still passes the seed guard (a block stores such a row
  * as a self-loop, which reaches nothing new).
  */
object Bfs {

  /** `(node, dist)` for every node within `maxHops` of the seed set;
    * `dist` is the exact minimum hop count (BIGINT). `edges` must
    * already contain both directions for an undirected walk. */
  def hopDistances(edges: DataFrame, seeds: DataFrame,
                   maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val nodeType = edges.schema("src").dataType
    val blocks = edgeBlocks(edges)
    try {
      val (nEdges, nodesUpper) = measure(blocks)
      // RAW-EDGE exact driver finish. Spec-pinned equal to both
      // distributed branches (BfsSpec, DriverFinishParitySpec,
      // GraphLoopsSpec).
      if (SizePolicy.driverFinish(nEdges))
        driverFinish(blocks, seeds, maxHops, nodeType)
      // The settled set can reach every endpoint, so the state gate
      // bounds it by |src ∪ dst| (the measured upper estimate).
      else if (SizePolicy.broadcasts(nodesUpper, SizePolicy.keyedLongRowBytes))
        driverStateRounds(blocks, seeds, maxHops, nodeType)
      else frontierJoins(edges, seeds, maxHops)
    } finally blocks.unpersist(false)
  }

  /** `edges`' `(src, dst)` rows as one pair of id arrays per
    * partition, persisted (lazily) at MEMORY_AND_DISK. A row with a
    * null `src` is dropped; a null `dst` is stored as `src` itself. */
  private[graft] def edgeBlocks(edges: DataFrame)
    : RDD[(Array[Long], Array[Long])] =
    edges.select(col("src").cast("long"), col("dst").cast("long"))
      .queryExecution.toRdd
      .mapPartitions { rows =>
        val (src, dst) = (new mutable.ArrayBuilder.ofLong,
          new mutable.ArrayBuilder.ofLong)
        rows.foreach { r =>
          if (!r.isNullAt(0)) {
            val s = r.getLong(0)
            src += s
            dst += (if (r.isNullAt(1)) s else r.getLong(1))
          }
        }
        Iterator.single((src.result(), dst.result()))
      }
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** `(rows, nodesUpper)` of the blocks, from the job that
    * materializes them: the stored edge count and the HLL++ upper
    * bound on their distinct endpoints. */
  private[graft] def measure(blocks: RDD[(Array[Long], Array[Long])])
    : (Long, Long) =
    SizePolicy.sketch(blocks) { (parts, add) =>
      var n = 0L
      parts.foreach { case (src, dst) =>
        var k = 0
        while (k < src.length) {
          add(XXH64.hashLong(src(k), 42L))
          add(XXH64.hashLong(dst(k), 42L))
          k += 1
        }
        n += src.length
      }
      n
    }

  /** The guard's candidate seeds: distinct, sorted, nulls dropped. */
  private def seedIds(seeds: DataFrame): Array[Long] =
    sortedDistinct(seeds.select(col("node").cast("long"))
      .collect().collect { case r if !r.isNullAt(0) => r.getLong(0) })

  /** One collect of the blocks and an in-memory BFS over their CSR
    * graph. */
  private def driverFinish(blocks: RDD[(Array[Long], Array[Long])],
                           seeds: DataFrame, maxHops: Int,
                           nodeType: DataType): DataFrame = {
    val parts = blocks.collect()
    val g = LocalGraph.fromPairs(Array.concat(parts.map(_._1): _*),
      Array.concat(parts.map(_._2): _*), seeds.sparkSession, nodeType)
    val dist = Array.fill(g.n)(-1L)
    var frontier = seedIds(seeds).map(g.index)
      .filter(i => i >= 0 && g.degree(i) > 0)
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
    val reached = dist.indices.filter(dist(_) >= 0L).toArray
    LocalFrames.longPairs(seeds.sparkSession, "node", "dist", nodeType,
      reached.map(g.ids), reached.map(dist))
  }

  /** The hop rounds with the node state on the driver: `layers(k)`
    * holds the nodes at distance k, `settled` their sorted union. Hop
    * 1's scan also applies the seed guard: its frontier is every
    * candidate seed, the seeds it finds as a `src` form layer 0, and
    * what they reach outside layer 0 forms layer 1. */
  private def driverStateRounds(blocks: RDD[(Array[Long], Array[Long])],
                                seeds: DataFrame, maxHops: Int,
                                nodeType: DataType): DataFrame = {
    var frontier = seedIds(seeds)
    var settled = Array.emptyLongArray
    val layers = ArrayBuffer.empty[Array[Long]]
    while (frontier.nonEmpty && layers.length <= maxHops) {
      val (hits, reached) = expand(blocks, frontier, settled)
      if (layers.isEmpty) { layers += hits; settled = hits }
      frontier =
        if (layers.length > maxHops) Array.emptyLongArray
        else reached.filter(java.util.Arrays.binarySearch(settled, _) < 0)
      if (frontier.nonEmpty) {
        layers += frontier
        settled = sortedDistinct(settled ++ frontier)
      }
    }
    LocalFrames.longPairs(seeds.sparkSession, "node", "dist", nodeType,
      Array.concat(layers.toSeq: _*),
      layers.indices.flatMap(d => Iterator.fill(layers(d).length)(d.toLong)).toArray)
  }

  /** One hop as one job over the edge blocks: the frontier nodes
    * found as a `src` (`hits`), and the distinct `dst`s of those edges
    * that are not `settled`, both sorted. Frontier and settled set
    * ship as one [[LongIndex]] broadcast each, destroyed after the
    * job; each task returns a bitmap over the frontier plus its own
    * distinct `dst`s. */
  private def expand(blocks: RDD[(Array[Long], Array[Long])],
                     frontier: Array[Long],
                     settled: Array[Long]): (Array[Long], Array[Long]) = {
    val sc = blocks.sparkContext
    val bf = sc.broadcast(new LongIndex(frontier))
    val bs = sc.broadcast(new LongIndex(settled))
    val n = frontier.length
    val parts = try blocks.map { case (src, dst) =>
        val (f, s) = (bf.value, bs.value)
        val hit = new java.util.BitSet(n)
        val reached = new mutable.ArrayBuilder.ofLong
        var k = 0
        while (k < src.length) {
          val i = f(src(k))
          if (i >= 0) {
            hit.set(i)
            if (s(dst(k)) < 0) reached += dst(k)
          }
          k += 1
        }
        (hit, sortedDistinct(reached.result()))
      }.collect()
      finally { bf.destroy(); bs.destroy() }
    val hit = new java.util.BitSet(n)
    parts.foreach(p => hit.or(p._1))
    (frontier.indices.filter(hit.get).map(frontier).toArray,
      sortedDistinct(parts.flatMap(_._2)))
  }

  /** Past the broadcast cap: the frontier and settled layers are
    * joined per hop against the edge cache pre-partitioned on `src`,
    * each side still broadcast while its row count (the loop counts
    * every layer) fits, shuffled-hash otherwise. */
  private def frontierJoins(edges: DataFrame, seeds: DataFrame,
                            maxHops: Int): DataFrame = {
    val eLoop = SizePolicy.loopEdges(edges.select(col("src"), col("dst")),
      "src", bcast = false)
    try {
      val seedLayer = seeds.select(col("node")).distinct()
        .join(eLoop.select(col("src").as("node")), Seq("node"), "left_semi")
        .select(col("node"), lit(0L).as("dist"))
        .localCheckpoint(true)
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
          SizePolicy.broadcasts(frontierSize, SizePolicy.keyedLongRowBytes))
        val sSide = SizePolicy.sideFor(settledNodes,
          SizePolicy.broadcasts(settledCount, SizePolicy.keyedLongRowBytes))
        val next = eLoop
          .join(fSide, Seq("src"))
          .filter(col("dst").isNotNull)
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
      layers.reduce(_ union _)
    } finally eLoop.unpersist(false)
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
