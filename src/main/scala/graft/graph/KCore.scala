package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.functions.{count => sqlCount}
import org.apache.spark.storage.StorageLevel

/** k-core decomposition by iterative peeling: repeatedly drop every
  * node whose degree in the surviving induced subgraph is < k. The
  * round count is FIXED (like [[PageRank]]'s iteration count) so the
  * semantics are deterministic and an oracle can unroll them —
  * convergence-based stopping would make "how many rounds ran" part
  * of the output. At a fixpoint the result is the true k-core;
  * callers pick `rounds` from measured convergence (specs pin the
  * fixpoint at the test scale factors).
  *
  * Scale shape, per round: two semi-joins (edge endpoints against the
  * survivor set — node-keyed, broadcastable once peeling shrinks the
  * set) and one degree aggregate. The canonical edge list is
  * persisted ONCE and reused by every round; the survivor set ends
  * each round eagerly localCheckpoint'ed — it feeds the next round
  * TWICE (both endpoint semi-joins), so without truncation the plan
  * doubles per round (CLAUDE.md iterative-loop rule).
  *
  * Reference analog: trimming the related-collections graph
  * (precompute_related.py) to its dense core before expensive
  * downstream analytics.
  */
object KCore {

  /** @param edges  undirected edge list, columns `id1`, `id2` (any
    *               orientation; self-loops ignored)
    * @param k      core order (survivors need induced degree ≥ k)
    * @param rounds fixed peel rounds, unrolled verbatim by the oracle
    * @return (node, deg): degrees of the subgraph induced on the
    *         round-`rounds` survivor set; at a fixpoint every
    *         deg ≥ k
    */
  def kcore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 0)
    val e = LocalGraph.canonicalEdges(edges)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // bounded exact driver finish: each peel round is 3 jobs
      // distributed; in-memory the whole peel is one pass per round
      // over the symmetric CSR. Identical fixed-round semantics —
      // spec-pinned to the loop.
      if (SizePolicy.driverFinish(e.count())) {
        val g = LocalGraph.collect(e, symmetric = true)
        // induced degree of every alive node over its alive neighbours
        def degrees(alive: Int => Boolean): Array[Int] =
          Array.tabulate(g.n) { i =>
            if (!alive(i)) 0
            else (g.offsets(i) until g.offsets(i + 1))
              .count(k => alive(g.targets(k)))
          }
        var deg = degrees(_ => true)
        for (_ <- 0 until rounds) {
          val surv = deg.map(_ >= k)
          deg = degrees(surv(_))
        }
        return g.toDF(deg.indices.filter(deg(_) > 0)
          .map(i => (g.ids(i), deg(i).toLong)), "node", "deg")
      }
      var alive = e.select(col("a").as("node"))
        .union(e.select(col("b").as("node")))
        .distinct()
        .localCheckpoint(true)
      // Per-round join-side policy (SizePolicy): the survivor set only
      // SHRINKS from |V|, so one byte gate on the initial node count
      // decides every round; past it the edge cache persists
      // pre-partitioned on `a` (the first semi-join's key). alive is
      // checkpointed, so e has no other reader left.
      val bcast = SizePolicy.broadcasts(alive.count(),
        SizePolicy.keyedLongRowBytes)
      val eLoop = SizePolicy.loopEdges(e, "a", bcast)
      // degrees of the subgraph induced on `alive` — nodes with zero
      // induced edges simply don't appear (and could never reach k)
      def degrees(alive: DataFrame): DataFrame = {
        val ind = eLoop
          .join(SizePolicy.sideFor(
            alive.select(col("node").as("a")), bcast), Seq("a"),
            "left_semi")
          .join(SizePolicy.sideFor(
            alive.select(col("node").as("b")), bcast), Seq("b"),
            "left_semi")
        ind.select(col("a").as("node"))
          .union(ind.select(col("b").as("node")))
          .groupBy("node").agg(sqlCount(lit(1)).as("deg"))
      }
      // the result is checkpointed, so it reads no edge cache
      try {
        for (_ <- 0 until rounds) {
          alive = degrees(alive).filter(col("deg") >= k)
            .select("node")
            .localCheckpoint(true)
        }
        degrees(alive).localCheckpoint(true)
      } finally eLoop.unpersist(false)
    } finally e.unpersist(false)
  }
}
