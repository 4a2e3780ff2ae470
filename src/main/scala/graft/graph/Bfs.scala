package graft.graph

import org.apache.spark.sql.DataFrame
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
  * Scale shape (frontier-delta expansion, the textbook distributed
  * BFS):
  *  - each round joins ONLY the newly-settled frontier against the
  *    persisted edge list — work per round tracks the frontier, not
  *    the graph, and a node is expanded exactly once in the whole
  *    run (the unit-weight BFS invariant: first reach = min hops);
  *  - only the NEW layer is materialized per round
  *    (`localCheckpoint(true)` — eager, truncating lineage per the
  *    CLAUDE.md iterative-loop rule); the settled set is the lazy
  *    union of already-checkpointed layers, so no round rewrites
  *    previously-settled rows;
  *  - the per-round `distinct` collapses the reached set map-side
  *    before the anti-join, and the anti-join shuffles node-sized
  *    relations only (never edges);
  *  - edges are consumed AS-IS (no up-front distinct): reachability
  *    is duplicate-invariant, so a global dedup shuffle would buy
  *    nothing — duplicate edges only widen the per-round join
  *    fanout, which the same-stage distinct absorbs. Callers with
  *    heavily duplicated edge lists can pre-distinct if that fanout
  *    ever dominates;
  *  - an empty frontier short-circuits the loop; the capped oracle
  *    is unaffected (an empty layer adds no rows either way).
  *
  * Seeds without any outgoing edge are dropped (mirrors the
  * oracle's `node IN nodes` guard — for the undirected graphs this
  * serves, src-side membership IS node membership), so both engines
  * see the same reachable universe.
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
    val nEdges = e.count() // consumed every round — materialize once
    // RAW-EDGE exact driver finish: at ≤ driverFinishMaxEdges edge
    // ROWS the whole frontier loop — per hop one join + distinct +
    // anti-join + eager checkpoint, each a driver-scheduled job —
    // collapses to one collect and an in-memory BFS with identical
    // semantics (first reach = min hops; duplicate edges are fanout
    // only; seeds kept only when they appear as a src — the same
    // left-semi guard). Spec-pinned equal to the distributed loop
    // (Round15OpsSpec); 0 forces the distributed path.
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
    // Per-round join-side policy (SizePolicy): frontier and settled
    // sets are node-sized, and their row counts are FREE (the loop
    // counts the frontier every hop anyway) — broadcast them while
    // they fit. The settled set can reach every endpoint, so the
    // up-front edge-cache decision gates on |src ∪ dst|.
    val allFit = SizePolicy.fits(SizePolicy.nodeCount(e, "src", "dst"),
      SizePolicy.keyedLongRowBytes, maxBroadcastBytes)
    val seedLayer = seeds.select(col("node")).distinct()
      .join(e.select(col("src").as("node")), Seq("node"), "left_semi")
      .select(col("node"), lit(0L).as("dist"))
      .localCheckpoint(true)
    // seedLayer is checkpointed — e has no other reader left
    val eLoop = SizePolicy.loopEdges(e, "src", allFit)
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
}
