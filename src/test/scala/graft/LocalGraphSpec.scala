package graft

import graft.graph.LocalGraph
import org.apache.spark.sql.types.IntegerType

/** The collected-graph format every graph driver finish walks: sorted
  * dense ids, CSR degrees and neighbour lists that round-trip to the
  * collected rows (multiplicity kept), and the symmetric build. */
class LocalGraphSpec extends SparkSpec {
  import spark.implicits._

  private def randomEdges(seed: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    // a small id pool, so rows repeat; negative ids and ids past 2^31
    // exercise the full long range
    val pool = Seq.fill(12)(rnd.nextInt(2000).toLong - 1000L) ++
      Seq(-5000000000L, 3000000000L, Int.MaxValue.toLong + 1L)
    val es = Seq.fill(40)((pool(rnd.nextInt(pool.size)),
      pool(rnd.nextInt(pool.size))))
    es ++ Seq(es.head, (pool(0), pool(0))) // a duplicate, a self-loop
  }

  private val inputs: Seq[(String, Seq[(Long, Long)])] =
    (1 to 4).map(s => s"random seed=$s" -> randomEdges(s)) ++ Seq(
      "single edge" -> Seq((7L, -3L)),
      "no edges" -> Seq.empty[(Long, Long)])

  private def listed(g: LocalGraph): Seq[(Long, Long)] = {
    val out = Seq.newBuilder[(Long, Long)]
    g.foreachEdge((i, j) => out += ((g.ids(i), g.ids(j))))
    out.result()
  }

  private def multiset(es: Seq[(Long, Long)]): Map[(Long, Long), Int] =
    es.groupBy(identity).map { case (k, v) => k -> v.size }

  test("ids are the endpoints, strictly ascending, indexed densely") {
    inputs.foreach { case (name, es) =>
      val g = LocalGraph.collect(es.toDF("src", "dst"))
      assert(g.ids.toSeq == es.flatMap(e => Seq(e._1, e._2)).distinct.sorted,
        name)
      assert(g.ids.indices.forall(i => i == 0 || g.ids(i - 1) < g.ids(i)),
        name)
      g.ids.indices.foreach(i => assert(g.index(g.ids(i)) == i, name))
      assert(g.index(Long.MaxValue) < 0, name)
    }
  }

  test("degree counts the rows with that source") {
    inputs.foreach { case (name, es) =>
      val g = LocalGraph.collect(es.toDF("src", "dst"))
      g.ids.indices.foreach { i =>
        assert(g.degree(i) == es.count(_._1 == g.ids(i)), s"$name i=$i")
      }
    }
  }

  test("neighbour lists round-trip to the input multiset") {
    inputs.foreach { case (name, es) =>
      val g = LocalGraph.collect(es.toDF("src", "dst"))
      assert(multiset(listed(g)) == multiset(es), name)
      assert(g.offsets.last == es.size, name)
    }
  }

  test("the symmetric build lists each edge in both directions") {
    inputs.foreach { case (name, es) =>
      val g = LocalGraph.collect(es.toDF("src", "dst"), symmetric = true)
      assert(multiset(listed(g)) == multiset(es ++ es.map(_.swap)), name)
      g.ids.indices.foreach { i =>
        assert(g.degree(i) ==
          es.count(_._1 == g.ids(i)) + es.count(_._2 == g.ids(i)), name)
      }
    }
  }

  test("toDF maps node columns back to the collected id type") {
    val g = LocalGraph.collect(Seq((3, 1), (1, 2)).toDF("src", "dst"))
    val df = g.toDF(g.ids.toSeq.map(id => (id, id * 10L)), "node", "v")
    assert(df.schema("node").dataType == IntegerType)
    assert(df.as[(Int, Long)].collect().sorted.toSeq ==
      Seq((1, 10L), (2, 20L), (3, 30L)))
  }
}
