package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.HllRegisters
import org.apache.spark.sql.graft.HllRegisterFunctions._
import org.apache.spark.storage.StorageLevel

/** HyperBall (Boldi & Vigna 2013, public method): the neighbourhood
  * function — per node, HOW MANY distinct nodes lie within k hops —
  * estimated with one 64-register HyperLogLog per node instead of
  * materializing the balls (ball-2 of this co-purchase graph is
  * already ~|V|² pairs; the sketch's whole point is that the k-hop
  * closure is never enumerated). The effective-diameter /
  * reachability-profile statistic for graphs at 100 TB, and — via
  * the per-radius estimate deltas — the paper's own application:
  * harmonic centrality without any per-pair distance computation.
  *
  * Register construction is q42's engine-portable HLL, digit for
  * digit (register = first md5 byte mod 64, rho from the leading
  * zeros of the next 13 hex digits capped at 40, raw estimate and
  * linear-counting correction in exact integer space), so a DuckDB
  * oracle of unrolled max-merge CTE rounds hash-matches every
  * register and every estimate.
  *
  * Scale shape — the state is DENSE and PACKED: one row per node
  * with all 64 registers in ONE 64-byte binary column
  * (org.apache.spark.sql.graft.HllRegisterExpressions; empty = 0;
  * real rho is always ≥ 1):
  *  - each round joins the edge list against the state and emits ONE
  *    row per edge, not one per (edge, register) — a sparse
  *    `(node, j, rho)` layout measured 40× more propagation rows
  *    here (50M vs 1.2M at sf0.1) and, worse, its per-(node, j)
  *    groups barely combine map-side because a src-partitioned join
  *    output touches almost every dst group in every task
  *    (22.7 s → ~1.5 s per round from this change alone);
  *  - the merge is ONE `bytewise_max` aggregate (a codegen'd byte
  *    loop with map-side partials) instead of 64 separate columnar
  *    `max` aggregates — associative, so partial aggregation
  *    collapses each task to ≤ |V| rows and the shuffle is bounded
  *    by |V| 64-byte vectors per round REGARDLESS of ball sizes —
  *    the HyperBall argument (q57's mergeability, per node);
  *  - the packed row is ~70 B where 64 separate byte FIELDS cost an
  *    UnsafeRow ~520 B (8-byte slots) — measured g10 4.1 → 2.2 s and
  *    g11 4.7 → 1.9 s at sf0.1 from the packing alone;
  *  - the edge cache is pre-partitioned on src once and the state
  *    side is shuffled-hash built (SizePolicy), so the round join
  *    never re-exchanges or sorts the edges;
  *  - the edge list is consumed as-is (max-merge is idempotent, so
  *    duplicate edges change nothing but join fanout — a global
  *    dedup shuffle costs more than the ~1% fanout it saves here;
  *    callers with heavily duplicated edge lists can pre-distinct);
  *  - per-round eager `localCheckpoint` truncates the loop lineage
  *    (CLAUDE.md iterative-loop rule); the last round's too, so the
  *    edge cache is released before the call returns.
  *
  * A row with a null endpoint is dropped before the gate count, on
  * every path.
  */
object HyperBall {

  private val R = 64

  /** Register states after rounds 1..`rounds`; element k-1 holds the
    * radius-k ball sketch. Every state is eagerly checkpointed (each
    * but the last feeds the next round twice), so none reads the edge
    * caches, which are released before the call returns or throws. */
  private def ballStates(edges: DataFrame, rounds: Int): Seq[DataFrame] = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val e = edges.select(col("src"), col("dst")).na.drop()
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // RAW-EDGE exact driver finish (the PageRank/LabelPropagation
      // economics): under the driver-finish gate on edge ROWS, the
      // register init (md5 digit-for-digit) and the per-round byte-max
      // merges run in-memory over one 2-column collect, and each round's
      // state returns as a LocalRelation of the SAME (node, regs)
      // shape — [[estimate]] then applies the IDENTICAL
      // HllRegisterExpressions over it, so the estimate arithmetic is
      // shared, not replicated. Spec-pinned equal to the distributed
      // loop (DriverFinishParitySpec, GraphLoopsSpec).
      if (SizePolicy.driverFinish(e.count()))
        return localStates(LocalGraph.collect(e), rounds)
      // The state starts at the distinct sources; it is checkpointed
      // before the edge cache is re-partitioned on src (SizePolicy),
      // which releases `e`.
      val (j, rho) = HllRegisters.register(col("node"))
      var state = e.select(col("src").as("node")).distinct()
        .select(col("node"), hllInit(j, rho).as("regs"))
        .localCheckpoint(true)
      val eLoop = SizePolicy.loopEdges(e, "src", bcast = false)
      try (1 to rounds).map { _ =>
        state = ballRound(eLoop, state).localCheckpoint(true)
        state
      } finally eLoop.unpersist(false)
    } finally e.unpersist(false)
  }

  /** One max-merge round over the pre-partitioned edge cache — each
    * node's registers byte-max its in-neighbours' — factored out so
    * its physical plan is inspectable (tools.GraphLoopBench `plans`).
    * The state side is shuffled-hash built (SizePolicy). */
  private[graft] def ballRound(eLoop: DataFrame, state: DataFrame)
    : DataFrame = {
    val prop = eLoop
      .join(SizePolicy.sideFor(state.withColumnRenamed("node", "src"),
        bcast = false), Seq("src"))
      .select(col("dst").as("node"), col("regs"))
    state.union(prop)
      .groupBy("node")
      .agg(byteMax(col("regs")).as("regs"))
  }

  /** In-memory register init + max-merge rounds — the [[ballStates]]
    * driver finish. The init mirrors the distributed column math
    * digit for digit: j = first md5 hex byte mod 64, rho from the
    * leading zeros of the next 13 hex digits (nibble-refined, capped
    * 53 → 40), register j of a 64-byte vector = rho. Each round k's
    * state is byte-wise max over the node's own state and every
    * in-neighbour's — identical to the union + byteMax aggregate.
    * Returns one LocalRelation per round, (node, regs BINARY). */
  private def localStates(g: LocalGraph, rounds: Int): Seq[DataFrame] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def initRegs(node: Long): Array[Byte] = {
      md.reset()
      val dig = md.digest(node.toString.getBytes("UTF-8"))
      val hex = dig.map(b => f"$b%02x").mkString
      val j = java.lang.Integer.parseInt(hex.substring(0, 2), 16) % R
      val wh = hex.substring(2, 15) // 13 hex digits
      var lz = 0
      while (lz < 13 && wh.charAt(lz) == '0') lz += 1
      val rho =
        if (lz == 13) 53
        else {
          val nib = wh.charAt(lz)
          val blen = nib match {
            case '1' => 1
            case '2' | '3' => 2
            case '4' | '5' | '6' | '7' => 3
            case _ => 4
          }
          lz * 4 + (4 - blen) + 1
        }
      val regs = new Array[Byte](R)
      regs(j) = math.min(rho, 40).toByte
      regs
    }
    // nodes = distinct sources, exactly like the distributed init;
    // null = not yet reached
    var state = Array.tabulate(g.n)(i =>
      if (g.degree(i) > 0) initRegs(g.ids(i)) else null)
    (1 to rounds).map { _ =>
      val next = state.map(r => if (r == null) null else r.clone())
      g.foreachEdge { (s0, d0) =>
        val sr = state(s0)
        if (sr != null) {
          if (next(d0) == null) next(d0) = sr.clone()
          else for (j <- 0 until R) {
            if (sr(j) > next(d0)(j)) next(d0)(j) = sr(j)
          }
        }
      }
      state = next
      g.toDF(state.indices.filter(state(_) != null)
        .map(i => (g.ids(i), state(i))), "node", "regs")
    }
  }

  /** q42's integer-space estimate over a dense register state; an
    * empty register (0) contributes 2^40 to the scaled harmonic sum —
    * exactly the sparse form's (64 − count) · 2^40 term. */
  private def estimate(state: DataFrame): DataFrame =
    state
      .select(col("node"), hllScaledSum(col("regs")).as("s_scaled"),
        hllEmptyCount(col("regs")).as("v_empty"))
      .select(col("node"), col("s_scaled"), col("v_empty"),
        HllRegisters.estimate.as("ball_est"))

  /** Per-node radius-`rounds` ball-size estimates:
    * `(node, s_scaled, v_empty, ball_est)` — `ball_est` counts the
    * node itself, exact sketch parity with the q42 formula. */
  def neighborhood(edges: DataFrame, rounds: Int): DataFrame =
    estimate(ballStates(edges, rounds).last)

  /** Harmonic centrality from the per-radius estimate deltas — the
    * HyperBall paper's application: H(u) ≈ Σ_k (|ball_k| −
    * |ball_{k−1}|)/k, summed to radius `rounds`, with every ball
    * size an HLL estimate. Layer deltas clamp at 0 (register sets
    * only grow, but the linear-counting↔raw boundary can step an
    * ESTIMATE down — the clamp is mirrored by the oracle), and the
    * 1/k weights are exact integer `DIV`s in milli units. Output:
    * `(node, est_1.., harmonic_milli)`. */
  def harmonicCentrality(edges: DataFrame, rounds: Int): DataFrame = {
    val states = ballStates(edges, rounds)
    val ests = states.zipWithIndex.map { case (st, i) =>
      estimate(st).select(col("node"),
        col("ball_est").as(s"est${i + 1}"))
    }
    val joined = ests.reduce(_.join(_, Seq("node")))
    val harmonic = (1 to rounds).map { k =>
      expr(s"(greatest(est$k - ${if (k == 1) "1" else s"est${k - 1}"}" +
        s", 0) * 1000) DIV $k")
    }.reduce(_ + _)
    joined.select(
      (col("node") +: (1 to rounds).map(k => col(s"est$k"))) :+
        harmonic.as("harmonic_milli"): _*)
  }
}
