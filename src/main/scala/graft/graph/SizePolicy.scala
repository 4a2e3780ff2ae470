package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.storage.StorageLevel

/** The one place a size cap lives and a size gate is decided — for the
  * graph operators' driver finishes and per-round joins, and for the
  * other explicit broadcasts of a data-dependent side.
  *
  * House rule (CLAUDE.md): broadcast is a SIZE decision — estimated
  * bytes (rows × per-row hashed-relation cost) against a ~100 MB cap,
  * the cost every executor pays for a broadcast side. Below the cap a
  * loop's node-sized state broadcasts, so the cached edge list is
  * never re-exchanged or sorted in any round; above it the edge cache
  * is pre-partitioned on the join key once ([[loopEdges]]) and the
  * state side carries a shuffled-hash hint, so the streamed edge side
  * stays sort-free (guide §2.4/§3.1). Both branches are spec-pinned
  * equal to the driver finish (Round16OpsSpec).
  *
  * Operators keep their per-call `driverFinishMaxEdges` /
  * `maxBroadcastBytes` parameters only so specs and
  * tools.GraphLoopBench can force a branch; every default is here.
  */
private[graft] object SizePolicy {

  /** Edge rows at or under which a graph operator collects its edge
    * list and finishes on the driver ([[LocalGraph]]): below ~2M
    * edges, per-round job scheduling costs more than walking CSR
    * arrays in one thread. */
  val driverMaxEdges: Long = 2000000L

  /** Wedges a driver finish may enumerate: a dense graph under the
    * edge cap can still imply E^1.5 wedges — that work belongs on the
    * cluster (Triangles, LinkPrediction). */
  val localMaxWedges: Long = 50000000L

  /** ~100 MB: the executor-side cost envelope of one broadcast. */
  val broadcastBytes: Long = 100L << 20

  /** Hashed-relation cost of a (long key, long value) row: two 8-byte
    * words plus row/map overhead. */
  val keyedLongRowBytes: Long = 48L

  /** A (long key, 64-byte register vector) row: the HyperBall state. */
  val registerRowBytes: Long = 160L

  /** A bare long key plus hashed-relation overhead: a semi-join set. */
  val keyRowBytes: Long = 16L

  def fits(rows: Long, bytesPerRow: Long, cap: Long): Boolean =
    rows * bytesPerRow <= cap

  /** The state side of a per-round join: explicit broadcast under the
    * gate, shuffled-hash hint (build on the node-sized state, stream
    * the edge cache without sorting it) past it. */
  def sideFor(state: DataFrame, bcast: Boolean): DataFrame =
    if (bcast) broadcast(state) else state.hint("shuffle_hash")

  /** The edge cache every round of a distributed loop scans: `e` as
    * given while the state broadcasts; past the gate, `e`
    * repartitioned once on the round join `key`, persisted and
    * materialized — after which `e` itself is released (callers have
    * checkpointed whatever else read it). */
  def loopEdges(e: DataFrame, key: String, bcast: Boolean): DataFrame =
    if (bcast) e
    else {
      val ep = e.repartition(col(key)).persist(StorageLevel.MEMORY_AND_DISK)
      ep.count()
      e.unpersist(false)
      ep
    }

  /** Distinct nodes among all endpoints (`a` ∪ `b`) of an edge frame:
    * the bound on any node-sized loop state, which can reach pure
    * sinks as well as sources. */
  def nodeCount(e: DataFrame, a: String, b: String): Long =
    e.select(col(a).as("node")).union(e.select(col(b).as("node")))
      .distinct().count()
}
