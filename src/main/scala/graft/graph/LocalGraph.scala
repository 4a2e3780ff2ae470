package graft.graph

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, greatest, least}
import org.apache.spark.sql.types.DataType

/** A collected edge list in CSR form — the one format every graph
  * driver finish walks.
  *
  * Node ids (every endpoint) are sorted ascending and mapped to dense
  * int indices `0 until n`, so comparing two indices compares the ids:
  * every min-id and tie-break rule of the distributed path carries
  * over unchanged. `targets(offsets(i) until offsets(i + 1))` are node
  * i's neighbours in collected row order, and a node's degree is the
  * difference between its offsets. Edge multiplicity is kept exactly
  * as collected: a duplicate row is a duplicate neighbour, a self-loop
  * its own neighbour. The symmetric build lists every row in both
  * directions, for the canonical undirected operators.
  *
  * There is one build, [[LocalGraph.fromPairs]], over two `Array[Long]`
  * of endpoint ids; `collect` feeds it a collected edge frame, Bfs the
  * arrays of its edge blocks.
  */
final class LocalGraph private (val ids: Array[Long],
                                val offsets: Array[Int],
                                val targets: Array[Int],
                                spark: SparkSession,
                                nodeType: DataType) {

  def n: Int = ids.length

  def degree(i: Int): Int = offsets(i + 1) - offsets(i)

  /** Index of node `id`; negative when `id` is no endpoint. */
  def index(id: Long): Int = java.util.Arrays.binarySearch(ids, id)

  /** Every listed (node, neighbour) pair, as indices. */
  def foreachEdge(f: (Int, Int) => Unit): Unit = {
    var i = 0
    while (i < n) {
      var k = offsets(i)
      while (k < offsets(i + 1)) { f(i, targets(k)); k += 1 }
      i += 1
    }
  }

  /** The same nodes over another adjacency. */
  def withAdjacency(offsets: Array[Int], targets: Array[Int]): LocalGraph =
    new LocalGraph(ids, offsets, targets, spark, nodeType)

  /** Result rows as a frame; a column named `node` carries ids and is
    * mapped back to the collected node type. */
  def toDF[T <: Product : TypeTag](rows: Seq[T], names: String*)
    : DataFrame = {
    val df = spark.createDataFrame(rows).toDF(names: _*)
    if (names.contains("node"))
      df.withColumn("node", col("node").cast(nodeType))
    else df
  }
}

object LocalGraph {

  /** The canonical undirected edge set of an `(id1, id2)` list, as
    * distinct `(a, b)` BIGINT pairs with a < b: each pair oriented
    * least → greatest and self-loops dropped. */
  def canonicalEdges(edges: DataFrame): DataFrame =
    edges.select(
        least(col("id1"), col("id2")).cast("long").as("a"),
        greatest(col("id1"), col("id2")).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()

  /** One collect of an already persisted and counted edge frame whose
    * first two columns are (src, dst), in any integral type. */
  def collect(e: DataFrame, symmetric: Boolean = false): LocalGraph = {
    val Array(s, d) = e.columns.take(2)
    val rows = e.select(col(s).cast("long"), col(d).cast("long")).collect()
    fromPairs(rows.map(_.getLong(0)), rows.map(_.getLong(1)),
      e.sparkSession, e.schema(s).dataType, symmetric)
  }

  /** The graph of the rows `(src(k), dst(k))`, built straight from the
    * two id arrays (Bfs collects its primitive edge blocks into them);
    * `nodeType` is the type `toDF` maps node ids back to. */
  def fromPairs(src: Array[Long], dst: Array[Long], spark: SparkSession,
                nodeType: DataType, symmetric: Boolean = false): LocalGraph = {
    require(src.length == dst.length, "src and dst differ in length")
    // endpoints indexed by first appearance in one hash pass, then
    // re-indexed by rank: only the n distinct ids are sorted
    val first = new scala.collection.mutable.LongMap[Int]()
    def index(id: Long): Int = first.getOrElseUpdate(id, first.size)
    val (si, di) = (new Array[Int](src.length), new Array[Int](src.length))
    for (k <- src.indices) {
      si(k) = index(src(k))
      di(k) = index(dst(k))
    }
    val n = first.size
    val byFirst = new Array[Long](n)
    first.foreachEntry((id, p) => byFirst(p) = id)
    val ids = byFirst.sorted
    val rank = byFirst.map(java.util.Arrays.binarySearch(ids, _))
    for (k <- src.indices) { si(k) = rank(si(k)); di(k) = rank(di(k)) }
    val (from, to) =
      if (symmetric) (Array.concat(si, di), Array.concat(di, si))
      else (si, di)
    val offsets = new Array[Int](n + 1)
    from.foreach(i => offsets(i + 1) += 1)
    for (i <- 0 until n) offsets(i + 1) += offsets(i)
    val fill = java.util.Arrays.copyOf(offsets, n)
    val targets = new Array[Int](from.length)
    for (k <- from.indices) {
      targets(fill(from(k))) = to(k)
      fill(from(k)) += 1
    }
    new LocalGraph(ids, offsets, targets, spark, nodeType)
  }
}
