package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.functions.{count => sqlCount}
import org.apache.spark.storage.StorageLevel

/** Distributed triangle counting by degree-ordered orientation — the
  * classic trick that makes the wedge join survive skew: every
  * undirected edge is directed from its lower-(degree, id) endpoint
  * to the higher one, so a node's out-degree is bounded by O(√|E|)
  * REGARDLESS of its raw degree (a hub with a million neighbours
  * receives almost all its edges inbound). Wedge generation — the
  * self-join on the source — is therefore quadratic only in the
  * bounded out-degree, never in hub degree; the closing-edge check is
  * one more equi-join. Three shuffles total (degree, wedge, close),
  * all on node/edge keys.
  *
  * The (deg, id) total order is packed as deg·10⁹ + id for engine
  * portability (plain BIGINT comparisons on both sides); callers need
  * node ids < 10⁹ — assert, don't corrupt.
  */
object Triangles {

  /** Canonical (a < b, loop-free) distinct edge view, persisted —
    * shared by the driver-finish gate and [[distributed]]. Callers count
    * it to materialize. */
  private def canonPersisted(edges: DataFrame): DataFrame =
    LocalGraph.canonicalEdges(edges)
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** The [[count]]/[[perNode]] driver finish: in-memory mirror of
    * orient + wedge + closing-edge counting over the collected
    * canonical edges, with the same packed (deg·10⁹ + id) order, the
    * same wedge canonicalization and the same 1e9 id guard. Doubly
    * gated: None past the driver-finish gate, or when the implied
    * wedge count Σ C(outdeg, 2) — read off the same orientation pass
    * — exceeds the local wedge cap (a dense graph under the edge gate
    * can still imply E^1.5 wedges; that work belongs on the cluster).
    * Returns (graph, wedges, triangles, per-node triangle counts). */
  private def local(eC: DataFrame, nE: Long)
    : Option[(LocalGraph, Long, Long, Array[Long])] = {
    if (!SizePolicy.driverFinish(nE)) return None
    val g = LocalGraph.collect(eC, symmetric = true)
    val maxNode = g.ids.lastOption.getOrElse(Long.MinValue)
    require(maxNode < 1000000000L,
      s"Triangles: node id $maxNode >= 1e9 breaks the packed " +
        "(deg, id) order key — remap ids first")
    val okey = Array.tabulate(g.n)(i => g.degree(i) * 1000000000L + g.ids(i))
    // oriented src = the canonical pair's smaller (deg, id) endpoint
    def src(u: Int, v: Int): Int = if (okey(u) < okey(v)) u else v
    val outdeg = new Array[Int](g.n)
    g.foreachEdge((u, v) => if (u < v) outdeg(src(u, v)) += 1)
    val nWedges = outdeg.map(d => d.toLong * (d - 1) / 2).sum
    if (nWedges > SizePolicy.localMaxWedges) return None
    val offsets = outdeg.scanLeft(0)(_ + _)
    val fill = offsets.clone()
    val out = new Array[Int](offsets(g.n))
    g.foreachEdge { (u, v) =>
      if (u < v) { val s = src(u, v); out(fill(s)) = u + v - s; fill(s) += 1 }
    }
    // a wedge (v, w) at u closes iff v → w is an oriented edge: mark
    // u's out-neighbours, then scan each out-neighbour's own list
    val tri = new Array[Long](g.n)
    val mark = Array.fill(g.n)(-1)
    var nTriangles = 0L
    for (u <- 0 until g.n) {
      for (k <- offsets(u) until offsets(u + 1)) mark(out(k)) = u
      for (k <- offsets(u) until offsets(u + 1);
           k2 <- offsets(out(k)) until offsets(out(k) + 1)
           if mark(out(k2)) == u) {
        nTriangles += 1L
        tri(u) += 1L; tri(out(k)) += 1L; tri(out(k2)) += 1L
      }
    }
    Some((g, nWedges, nTriangles, tri))
  }

  /** The distributed path: degree-orient the canonical edge list `e`
    * (persisted+materialized by the caller via [[canonPersisted]]) and
    * run `body` over (oriented edges, per-node degrees, oriented edge
    * count), both frames persisted and materialized. `oriented`
    * carries src, dst and the packed (deg, id) order key of dst
    * (`dstk`) so wedge canonicalization needs no further join. The
    * result is eagerly checkpointed, so it reads neither cache; both
    * are released before this returns or throws. */
  private def distributed(e: DataFrame)(
      body: (DataFrame, DataFrame, Long) => DataFrame): DataFrame = {
    // ids must fit under the okey packing factor — corrupt order keys
    // would silently mis-orient edges, so refuse loudly instead.
    // e is materialized, so this max is a cheap cached scan.
    val maxNode = e.agg(max(greatest(col("a"), col("b"))))
      .head().getLong(0)
    require(maxNode < 1000000000L,
      s"Triangles: node id $maxNode >= 1e9 breaks the packed " +
        "(deg, id) order key — remap ids first")
    // deg feeds THREE consumers (both orientation key joins and the
    // callers' n_nodes branch) — uncached, each replays the
    // union+aggregate as its own AQE stage chain (the g07 lesson:
    // stage-scheduling latency dwarfs the tiny aggregate). |V| rows.
    val deg = e.select(col("a").as("node"))
      .union(e.select(col("b").as("node")))
      .groupBy("node").agg(sqlCount(lit(1)).as("deg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val maxId = 1000000000L
    val okey = (col("deg") * maxId + col("node")).as("okey")
    val keyed = deg.select(col("node"), okey)
    // orient: src = endpoint with the SMALLER (deg, id) key
    val withKeys = e
      .join(keyed.select(col("node").as("a"), col("okey").as("ka")), "a")
      .join(keyed.select(col("node").as("b"), col("okey").as("kb")), "b")
    val oriented = withKeys.select(
        when(col("ka") < col("kb"), col("a")).otherwise(col("b"))
          .as("src"),
        when(col("ka") < col("kb"), col("kb")).otherwise(col("ka"))
          .as("dstk"),
        when(col("ka") < col("kb"), col("b")).otherwise(col("a"))
          .as("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      deg.count()
      body(oriented, deg, oriented.count()).localCheckpoint(true)
    } finally { oriented.unpersist(false); deg.unpersist(false) }
  }

  /** The closing-edge side: broadcast while the oriented edges fit
    * (known — they were counted), so the wedge stream — the big side,
    * up to out-deg² per source — never shuffles. Past the cap the
    * equi-join on (v, w) shuffles both sides; the wedge side is then
    * the cost, which is the algorithm's honest lower bound. */
  private def closeSide(closing: DataFrame, nEdges: Long): DataFrame =
    if (SizePolicy.broadcasts(nEdges, SizePolicy.keyedLongRowBytes))
      broadcast(closing) else closing

  /** @param edges undirected edge list, columns `id1`, `id2` (one row
    *              per edge, any orientation, self-loops ignored)
    * @return one row: n_nodes, n_edges, n_wedges, n_triangles
    */
  def count(edges: DataFrame): DataFrame = {
    val eC = canonPersisted(edges)
    try {
      val nE = eC.count()
      // exact driver finish ([[local]]); spec-pinned equal
      // (DriverFinishParitySpec)
      local(eC, nE) match {
        case Some((g, nw, nt, _)) => g.toDF(Seq((g.n.toLong, nE, nw, nt)),
          "n_nodes", "n_edges", "n_wedges", "n_triangles")
        case None => distributed(eC) { (oriented, deg, nEdges) =>
          // wedges from a shared source, canonicalized v ≺ w by the
          // SAME total order so each candidate triangle is generated
          // exactly once
          val wedges = oriented.as("x").join(oriented.as("y"),
              col("x.src") === col("y.src") &&
              col("x.dstk") < col("y.dstk"))
            .select(col("x.dst").as("v"), col("y.dst").as("w"))
          val closing = oriented.select(col("src").as("v"),
            col("dst").as("w"), lit(1L).as("hit"))
          // ONE pass over the wedge stream counts wedges AND triangles
          // (separate aggregates would run the wedge self-join twice)
          val agg2 = wedges.join(closeSide(closing, nEdges), Seq("v", "w"),
              "left")
            .agg(sqlCount(lit(1)).as("n_wedges"),
              coalesce(sum("hit"), lit(0L)).as("n_triangles"))
          deg.agg(sqlCount(lit(1)).as("n_nodes"))
            .crossJoin(oriented.agg(sqlCount(lit(1)).as("n_edges")))
            .crossJoin(agg2)
        }
      }
    } finally eC.unpersist(false)
  }

  /** Per-node triangle counts and local clustering coefficient over
    * the same degree-ordered orientation. Each triangle is found
    * exactly once as (src, v, w) — wedge INNER-joined with its closing
    * edge — then attributed to all three corners by exploding a
    * 3-element array in the SAME stage as the join (no second pass
    * over the wedge stream). Coefficient = 2·T / (deg·(deg−1)),
    * emitted as exact integer ppm (HALF_UP in integer space — the
    * CLAUDE.md rounding-tie rule: a small rational rounded as a float
    * systematically ties at the cut digit).
    *
    * Scale shape: identical to [[count]] (the wedge stream never
    * shuffles while the closing-edge set broadcasts) plus ONE
    * aggregate keyed by node — |corners| = 3·|triangles| rows into a
    * partial agg.
    *
    * @return (node, deg, tri, cc_ppm) for every node with deg ≥ 2
    */
  def perNode(edges: DataFrame): DataFrame = {
    val eC = canonPersisted(edges)
    try {
      // same driver finish as [[count]]; per-node output mirrors the
      // deg ≥ 2 filter, the left-join coalesce and the HALF_UP ppm
      local(eC, eC.count()) match {
        case Some((g, _, _, tri)) => g.toDF(
          (0 until g.n).filter(g.degree(_) >= 2).map { i =>
            val deg = g.degree(i).toLong
            (g.ids(i), deg, tri(i), (4L * tri(i) * 1000000L +
              deg * (deg - 1)) / (2L * deg * (deg - 1)))
          }, "node", "deg", "tri", "cc_ppm")
        case None => distributed(eC) { (oriented, deg, nEdges) =>
          val wedges = oriented.as("x").join(oriented.as("y"),
              col("x.src") === col("y.src") &&
              col("x.dstk") < col("y.dstk"))
            .select(col("x.src").as("u"), col("x.dst").as("v"),
              col("y.dst").as("w"))
          val closing = oriented.select(col("src").as("v"),
            col("dst").as("w"))
          val corners = wedges.join(closeSide(closing, nEdges), Seq("v", "w"))
            .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
            .groupBy("node").agg(sqlCount(lit(1)).as("tri"))
          deg.filter(col("deg") >= 2)
            .join(corners, Seq("node"), "left")
            .select(col("node"), col("deg"),
              coalesce(col("tri"), lit(0L)).as("tri"))
            .withColumn("cc_ppm",
              expr("(4 * tri * 1000000 + deg * (deg - 1)) DIV " +
                "(2 * deg * (deg - 1))"))
        }
      }
    } finally eC.unpersist(false)
  }
}
