package graft.graph

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow,
  XxHash64Function}
import org.apache.spark.sql.catalyst.util.HyperLogLogPlusPlusHelper
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.storage.StorageLevel

/** The one place a size cap lives and a size gate is decided — for the
  * graph operators' driver finishes and per-round joins, and for the
  * other explicit broadcasts of a data-dependent side.
  *
  * House rule (CLAUDE.md): broadcast is a SIZE decision — estimated
  * bytes (rows × per-row hashed-relation cost) against a ~100 MB cap,
  * the cost every executor pays for a broadcast side.
  *
  * Above the driver-finish gate a graph loop has ONE distributed path
  * or two, by measurement (GraphLoopBench, CHANGES.md):
  *  - PageRank, HyperBall and LabelPropagation run one: the edge
  *    cache is pre-partitioned on the join key once ([[loopEdges]])
  *    and the node-state side carries a shuffled-hash hint
  *    ([[sideFor]]), so the streamed edge side stays sort-free (guide
  *    §2.4/§3.1). A broadcast of their state timed no faster.
  *  - Bfs, Components, KCore and Reachability keep a broadcast branch
  *    under the cap, where it measured faster (Bfs goes further: its
  *    state stays on the driver and each hop is one scan job); past
  *    the cap they take the path above.
  * Every branch is spec-pinned equal to the driver finish
  * (GraphLoopsSpec, BfsSpec).
  *
  * A loop sizes its persisted edge cache in the one action that
  * materializes it. For Bfs and Reachability that job also returns an
  * upper estimate of the distinct endpoints (the broadcast gate), with
  * no shuffle: HyperLogLog++ at [[nodesRsd]] inflated by
  * [[nodesMargin]]. One helper, [[sketch]], holds that arithmetic for
  * every edge format: [[measure]] runs it over a persisted frame
  * (Reachability), Bfs over its primitive edge blocks.
  *
  * Every gate is read through [[driverFinish]] or [[broadcasts]], when
  * its operator is called; no operator takes a cap as a parameter.
  * Specs and tools.GraphLoopBench force a branch with [[forcing]].
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

  /** A bare long key plus hashed-relation overhead: a semi-join set. */
  val keyRowBytes: Long = 16L

  /** Whether a graph operator collects its `edgeRows` edge rows and
    * finishes on the driver ([[driverMaxEdges]]). */
  def driverFinish(edgeRows: Long): Boolean = forced.get match {
    case null => edgeRows <= driverMaxEdges
    case f => f.edgesRead = true; edgeRows <= f.edges
  }

  /** Whether a side of `rows` rows, each costing `bytesPerRow` as a
    * hashed relation, is broadcast ([[broadcastBytes]]). */
  def broadcasts(rows: Long, bytesPerRow: Long): Boolean = forced.get match {
    case null => rows * bytesPerRow <= broadcastBytes
    case f => f.bytesRead = true; rows * bytesPerRow <= f.bytes
  }

  /** The caps a [[forcing]] block set, and whether a gate read each. */
  private final class Forced(val edges: Long, val bytes: Long) {
    var edgesRead, bytesRead = false
  }

  /** This thread's innermost [[forcing]] block, or null. Not
    * inheritable: a thread started inside a block reads the defaults. */
  private val forced = new ThreadLocal[Forced]

  /** The (edge, byte) caps this thread's gates read now. */
  private def caps: (Long, Long) = forced.get match {
    case null => (driverMaxEdges, broadcastBytes)
    case f => (f.edges, f.bytes)
  }

  /** Runs `body` with this thread's gates reading the caps given here
    * in place of the defaults of the same names — the one way to force
    * a branch (specs, tools.GraphLoopBench). A cap left out keeps the
    * enclosing block's value; the enclosing values return when `body`
    * exits, also by a throw. Gates are read when an operator is
    * called, so the block wraps the call, not the action on its
    * result. If `body` returns without any gate read, or without a
    * gate reading a cap the block changed, this throws: a forced
    * comparison then cannot silently compare a branch with itself. */
  private[graft] def forcing[T](driverMaxEdges: Long = caps._1,
                                broadcastBytes: Long = caps._2)
                               (body: => T): T = {
    val (outer, f) = (forced.get, new Forced(driverMaxEdges, broadcastBytes))
    forced.set(f)
    val out = try body finally forced.set(outer)
    val (e0, b0) = caps
    if (!(f.edgesRead || f.bytesRead) || f.edges != e0 && !f.edgesRead ||
        f.bytes != b0 && !f.bytesRead) throw new IllegalStateException(
      s"SizePolicy.forcing: no gate read a cap the block set " +
        s"(driverMaxEdges = ${f.edges}, broadcastBytes = ${f.bytes})")
    // a cap the block kept is the enclosing block's: so was its read
    if (outer != null) {
      outer.edgesRead |= f.edgesRead && f.edges == e0
      outer.bytesRead |= f.bytesRead && f.bytes == b0
    }
    out
  }

  /** The state side of a per-round join: explicit broadcast under the
    * gate, shuffled-hash hint (build on the node-sized state, stream
    * the edge cache without sorting it) past it or on a loop with no
    * broadcast branch. */
  def sideFor(state: DataFrame, bcast: Boolean): DataFrame =
    if (bcast) broadcast(state) else state.hint("shuffle_hash")

  /** The edge cache every round of a distributed loop scans: `e` as
    * given while the state broadcasts; otherwise `e` repartitioned
    * once on the round join `key`, persisted and materialized — after
    * which `e` itself is released (callers have checkpointed whatever
    * else read it). */
  def loopEdges(e: DataFrame, key: String, bcast: Boolean): DataFrame =
    if (bcast) e
    else {
      val ep = e.repartition(col(key)).persist(StorageLevel.MEMORY_AND_DISK)
      try ep.count()
      catch { case t: Throwable => ep.unpersist(false); throw t }
      e.unpersist(false)
      ep
    }

  /** Relative standard deviation of the [[measure]] node estimate
    * (HyperLogLog++ with 2^14 registers, ~13 KB per task). */
  val nodesRsd: Double = 0.01

  /** Inflation of the [[measure]] node estimate: five standard
    * deviations, so the bound undercounts only with negligible
    * probability. */
  val nodesMargin: Double = 0.05

  /** `(rows, nodesUpper)` of a persisted edge frame in one pass:
    * the exact row count, and an upper estimate of the distinct
    * endpoints `a` ∪ `b` — the bound on any node-sized loop state,
    * which can reach pure sinks as well as sources. It leaves the
    * cache materialized for the loop that follows. */
  def measure(e: DataFrame, a: String, b: String): (Long, Long) = {
    val (ta, tb) = (e.schema(a).dataType, e.schema(b).dataType)
    sketch(e.select(col(a), col(b)).queryExecution.toRdd) { (rows, add) =>
      var n = 0L
      rows.foreach { r =>
        n += 1
        if (!r.isNullAt(0)) add(XxHash64Function.hash(r.get(0, ta), ta, 42L))
        if (!r.isNullAt(1)) add(XxHash64Function.hash(r.get(1, tb), tb, 42L))
      }
      n
    }
  }

  /** `(rows, nodesUpper)` over the partitions of `parts` in one job,
    * with no shuffle: `scan` walks one partition, passes the 64-bit
    * hash of every endpoint to `add` and returns its row count — the
    * hash HyperLogLog++ takes of a value of type t is
    * `XxHash64Function.hash(v, t, 42L)`, for a long
    * `XXH64.hashLong(v, 42L)`. Each task keeps one set of register
    * words at [[nodesRsd]], updated by [[hllAdd]]; they merge on the
    * driver and the estimate is inflated by [[nodesMargin]]. The one
    * sketch behind [[measure]] and Bfs's edge blocks; the job
    * materializes whatever persist `parts` reads. */
  def sketch[T](parts: RDD[T])(
      scan: (Iterator[T], Long => Unit) => Long): (Long, Long) = {
    val sized = parts.mapPartitions { it =>
        val words = new Array[Long](hll.numWords)
        val n = scan(it, hllAdd(words, _))
        Iterator.single((n, words))
      }
      .collect()
    val regs = hllRow(new Array[Long](hll.numWords))
    sized.foreach(p => hll.merge(regs, hllRow(p._2), 0, 0))
    (sized.map(_._1).sum,
      math.ceil(hll.query(regs, 0) * (1 + nodesMargin)).toLong)
  }

  /** Spark's HyperLogLog++ at [[nodesRsd]]: its merge and estimate
    * serve [[sketch]]; [[hllAdd]] is its register update. */
  private[graft] val hll = new HyperLogLogPlusPlusHelper(nodesRsd)

  /** The helper's index bits p, by its own formula. */
  private val hllP =
    math.ceil(2.0d * math.log(1.106d / nodesRsd) / math.log(2.0d)).toInt

  /** Register words as the helper's aggregation buffer. */
  private[graft] def hllRow(words: Array[Long]): InternalRow =
    new GenericInternalRow(words.map(w => w: Any))

  /** `HyperLogLogPlusPlusHelper.update` of an already hashed value,
    * on register words in a primitive array: the top p bits of `hash`
    * pick the register, the leading zeros of the rest (plus one) are
    * its candidate, six bits per register, ten registers per word. */
  private[graft] def hllAdd(words: Array[Long], hash: Long): Unit = {
    val idx = (hash >>> (64 - hllP)).toInt
    val pw = java.lang.Long.numberOfLeadingZeros(
      (hash << hllP) | (1L << (hllP - 1))) + 1L
    val w = idx / 10
    val shift = 6 * (idx - w * 10)
    val mask = 0x3FL << shift
    val word = words(w)
    if (pw > ((word & mask) >>> shift)) words(w) = (word & ~mask) | (pw << shift)
  }
}
