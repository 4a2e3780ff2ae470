package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Neighbor-overlap link prediction over an undirected graph: score
  * NON-adjacent node pairs by the Jaccard similarity of their
  * neighborhoods — the classic common-neighbors family ("friends you
  * may know", related-collections candidates the co-occurrence join
  * has not surfaced yet). Reference analog: precompute_related.py
  * surfaces related collections by direct co-membership; this is the
  * one-hop-beyond completion of that signal.
  *
  * Scale shape: candidate pairs are generated from WEDGES (two edges
  * sharing a center), so the fanout of a center of degree d is
  * d·(d−1)/2 — quadratic in hub degree, the classic Σdeg² blowup.
  * Unlike triangle counting there is no orientation trick: the center
  * of a wedge is an arbitrary common neighbor, not the pair's
  * (deg, id)-minimum, so EVERY center must emit its wedges. The
  * published mitigation is a hub cap: centers with degree >
  * `maxCenterDegree` contribute no wedges (a member-of-everything hub
  * carries no discriminative signal anyway — its wedge set is the
  * near-complete pair square). The cap is part of the operator's
  * declared semantics and is mirrored verbatim by the oracle, so
  * parity holds at any scale factor even when the cap bites.
  *
  * Everything after the wedge aggregate is bounded: one (p, q) hash
  * aggregate (partial agg collapses duplicate wedges map-side), an
  * anti-join against the edge list (drop already-adjacent pairs — the
  * whole point is predicting MISSING edges), two degree attaches, and
  * a TakeOrderedAndProject top-k. Jaccard is exact integer ppm,
  * HALF_UP in integer space (CLAUDE.md rounding-tie rule), with a
  * total-order (score desc, id1, id2) tiebreak.
  */
object LinkPrediction {

  def jaccardCandidates(edges: DataFrame, topK: Int = 50,
                        maxCenterDegree: Long = 10000L): DataFrame = {
    // canonical undirected edge set; persisted — it feeds the wedge
    // stream (via adj), the degree aggregate AND the anti-join, and
    // the caller's edge pipeline (a co-occurrence join) dwarfs the
    // cache. Materialize before the fan-out (CLAUDE.md persist rule).
    // Released before the call returns or throws.
    val e = LocalGraph.canonicalEdges(edges)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val nE = e.count()
      // RAW-EDGE exact driver finish (the PageRank/Triangles
      // economics), doubly gated: the driver-finish gate on edge rows
      // AND capped wedge count Σ_{deg≤cap} C(deg,2) ≤ the local wedge
      // cap (the hub cap bounds the blowup, but a graph of many
      // mid-degree centers can still imply too much single-thread
      // work). Mirrors the distributed chain operator for operator:
      // capped centers → p<q wedge pairs → common-neighbour counts →
      // drop adjacent pairs → HALF_UP integer-ppm Jaccard →
      // (ppm desc, id1, id2) top-k. Spec-pinned equal
      // (DriverFinishParitySpec).
      if (SizePolicy.driverFinish(nE)) {
        val g = LocalGraph.collect(e, symmetric = true)
        def center(i: Int): Boolean = g.degree(i) <= maxCenterDegree
        val wedgeBound = (0 until g.n).filter(center)
          .map { i => val d = g.degree(i).toLong; d * (d - 1) / 2 }.sum
        // node ids ≥ 1e9 keep the r15 routing to the distributed chain,
        // which has no id-range limit
        if (wedgeBound <= SizePolicy.localMaxWedges &&
            g.ids.lastOption.getOrElse(0L) < 1000000000L) {
          val n = g.n.toLong
          val cn = new scala.collection.mutable.LongMap[Long]()
          for (c <- 0 until g.n if center(c);
               k <- g.offsets(c) until g.offsets(c + 1);
               k2 <- k + 1 until g.offsets(c + 1)) {
            val (x, y) = (g.targets(k), g.targets(k2))
            val key = math.min(x, y) * n + math.max(x, y)
            cn(key) = cn.getOrElse(key, 0L) + 1L
          }
          g.foreachEdge((u, v) => cn.remove(u * n + v)) // adjacent pairs
          val rows = cn.toSeq.map { case (key, c) =>
            val (p, q) = ((key / n).toInt, (key % n).toInt)
            val (dp, dq) = (g.degree(p).toLong, g.degree(q).toLong)
            (p, q, c, dp, dq,
              (2L * 1000000L * c + (dp + dq - c)) / (2L * (dp + dq - c)))
          }.sortBy { case (p, q, _, _, _, ppm) => (-ppm, p, q) }.take(topK)
            .map { case (p, q, c, dp, dq, ppm) =>
              (g.ids(p), g.ids(q), c, dp, dq, ppm)
            }
          return g.toDF(rows, "id1", "id2", "common", "deg1", "deg2",
            "jaccard_ppm")
        }
      }
      val adj = e.select(col("a").as("u"), col("b").as("v"))
        .union(e.select(col("b").as("u"), col("a").as("v")))
      // deg feeds FOUR consumers (the center cap and both wedge-join
      // sides through it, plus the dp/dq attaches) — uncached, each
      // consumer replays the union+aggregate as its own AQE stage
      // chain, and the stage-scheduling latency dwarfs the tiny
      // aggregate itself (measured 3.3 s → ~2 s at sf0.1). One node
      // per row, bounded by |V| ≪ cached e.
      val deg = adj.groupBy("u").agg(count(lit(1)).as("deg"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      // the result is checkpointed, so it reads neither cache
      try {
        deg.count()
        // hub cap: both wedge-join sides are the SAME capped subtree, so
        // the exchange is planned once and reused across the self-join
        val centers = adj
          .join(deg.filter(col("deg") <= maxCenterDegree).select("u"), "u")
        val wedges = centers.as("x")
          .join(centers.as("y"),
            col("x.u") === col("y.u") && col("x.v") < col("y.v"))
          .select(col("x.v").as("p"), col("y.v").as("q"))
        val cn = wedges.groupBy("p", "q").agg(count(lit(1)).as("cn"))
        // prediction = pairs NOT already edges (p < q matches e's (a, b))
        val nonAdj = cn.join(e,
          cn("p") === e("a") && cn("q") === e("b"), "left_anti")
        nonAdj
          .join(deg.select(col("u").as("p"), col("deg").as("dp")), "p")
          .join(deg.select(col("u").as("q"), col("deg").as("dq")), "q")
          .select(col("p").as("id1"), col("q").as("id2"),
            col("cn").cast("long").as("common"),
            col("dp").cast("long").as("deg1"),
            col("dq").cast("long").as("deg2"),
            // |N(p) ∩ N(q)| / |N(p) ∪ N(q)| as HALF_UP integer ppm:
            // union = dp + dq − cn (p, q non-adjacent ⇒ neither is in the
            // other's neighborhood, no ±1 adjustment)
            expr("CAST((2 * 1000000 * cn + (dp + dq - cn)) " +
              "DIV (2 * (dp + dq - cn)) AS BIGINT)").as("jaccard_ppm"))
          .orderBy(col("jaccard_ppm").desc, col("id1"), col("id2"))
          .limit(topK)
          .localCheckpoint(true)
      } finally deg.unpersist(false)
    } finally e.unpersist(false)
  }
}
