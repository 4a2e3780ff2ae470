package graft

import graft.graph.Components
import graft.graph.SizePolicy.forcing
import org.apache.spark.sql.functions._

/** Round-3 operators: connected-components dedup clustering, as-of
  * join, decontamination, TF-IDF. */
class Round3OpsSpec extends SparkSpec {
  import spark.implicits._

  // ---- connectedComponents ----------------------------------------

  test("connectedComponents labels chains, triangles and singletons") {
    val nodes = (1L to 8L).toDF("id")
    // chain 1-2-3, triangle 4-5-6 (+ redundant edge), 7/8 isolated
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 5L), (5L, 6L), (4L, 6L))
      .toDF("id1", "id2")
    val got = Components.connectedComponents(nodes, edges)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 4L, 6L -> 4L, 7L -> 7L, 8L -> 8L))
  }

  test("connectedComponents crosses a long path (diameter > 2)") {
    // path 1-2-3-4-5-6: min label must walk the whole diameter
    val nodes = (1L to 6L).toDF("id")
    val edges = (1L to 5L).map(i => (i, i + 1)).toDF("id1", "id2")
    val got = Components.connectedComponents(nodes, edges)
      .as[(Long, Long)].collect().toMap
    assert(got.values.toSet == Set(1L))
  }

  test("distributed loop converges on a 200-node path in 20 rounds") {
    // diameter 199: plain min-propagation would need 199 rounds; the
    // pointer-jumping shortcut must land it within the default cap.
    // forcing(driverMaxEdges = 0L) forces the distributed path.
    val nodes = (1L to 200L).toDF("id")
    val edges = (1L to 199L).map(i => (i, i + 1)).toDF("id1", "id2")
    val got = forcing(driverMaxEdges = 0L)(
        Components.connectedComponents(nodes, edges))
      .as[(Long, Long)].collect().toMap
    assert(got.size == 200 && got.values.toSet == Set(1L))
  }

  test("both component paths match a BFS reference on random graphs") {
    val rnd = new scala.util.Random(42)
    (1 to 5).foreach { _ =>
      val n = 20 + rnd.nextInt(30)
      val es = Seq.fill(rnd.nextInt(n))(
        (rnd.nextInt(n) + 1L, rnd.nextInt(n) + 1L))
      // in-memory BFS reference: min reachable id per node
      val adj = es.filter(e => e._1 != e._2)
        .flatMap(e => Seq(e, e.swap))
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
      def comp(start: Long): Long = {
        var seen = Set(start); var frontier = Set(start)
        while (frontier.nonEmpty) {
          frontier = frontier.flatMap(adj.getOrElse(_, Set.empty))
            .diff(seen)
          seen ++= frontier
        }
        seen.min
      }
      val want = (1L to n).map(i => i -> comp(i)).toMap
      val nodes = (1L to n).toDF("id")
      val edges = es.toDF("id1", "id2")
      Seq(1000000L, 0L).foreach { cap =>
        val got = forcing(driverMaxEdges = cap)(
            Components.connectedComponents(nodes, edges))
          .as[(Long, Long)].collect().toMap
        assert(got == want, s"cap=$cap edges=$es")
      }
    }
  }

  test("driver finish and distributed loop agree") {
    val rnd = new scala.util.Random(7)
    val nodes = (1L to 60L).toDF("id")
    val edges = Seq.fill(40)((rnd.nextInt(60) + 1L,
      rnd.nextInt(60) + 1L)).toDF("id1", "id2")
    val viaDriver = Components.connectedComponents(nodes, edges)
      .as[(Long, Long)].collect().toMap
    val viaLoop = forcing(driverMaxEdges = 0L)(
        Components.connectedComponents(nodes, edges))
      .as[(Long, Long)].collect().toMap
    assert(viaDriver == viaLoop)
  }

  test("componentSizes counts members per component") {
    val nodes = (1L to 5L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("id1", "id2")
    val got = Components.componentSizes(nodes, edges)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (4L, 4L, 1L), (5L, 5L, 1L)))
  }

  // ---- e05 as-of join ---------------------------------------------

  test("as-of join picks the latest view at-or-before each click") {
    import java.sql.Timestamp
    def ts(sec: Int) = Timestamp.valueOf(f"2024-01-01 00:00:$sec%02d")
    val events = Seq(
      // user 1: view@1, view@3, click@5 → attributed to view 11
      (10L, ts(1), 1L, "view", 0.0, "{}"),
      (11L, ts(3), 1L, "view", 0.0, "{}"),
      (12L, ts(5), 1L, "click", 0.0, "{}"),
      // user 2: click@2 before any view → null attribution
      (20L, ts(2), 2L, "click", 0.0, "{}"),
      (21L, ts(4), 2L, "view", 0.0, "{}"),
      // user 3: view and click share ts → view qualifies (kind order)
      (30L, ts(6), 3L, "view", 0.0, "{}"),
      (31L, ts(6), 3L, "click", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    events.write.mode("overwrite")
      .parquet("/tmp/graft-test-asof/events.parquet")
    val got = Queries.all("e05_asof_join")(spark, "/tmp/graft-test-asof")
      .select("click_id", "view_id")
      .as[(Long, Option[Long])].collect().toMap
    assert(got == Map(12L -> Some(11L), 20L -> None, 31L -> Some(30L)))
  }

  // ---- e06 funnel -------------------------------------------------

  test("funnel attributes purchase to latest click and ITS view") {
    import java.sql.Timestamp
    def ts(min: Int) = Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")
    val events = Seq(
      // user 1: view@1 → click@2 → purchase@3: full funnel
      (10L, ts(1), 1L, "view", 0.0, "{}"),
      (11L, ts(2), 1L, "click", 0.0, "{}"),
      (12L, ts(3), 1L, "purchase", 0.0, "{}"),
      // user 2: click with NO prior view, then purchase: click-only
      (20L, ts(1), 2L, "click", 0.0, "{}"),
      (21L, ts(2), 2L, "purchase", 0.0, "{}"),
      // user 3: purchase with no click at all
      (30L, ts(1), 3L, "view", 0.0, "{}"),
      (31L, ts(2), 3L, "purchase", 0.0, "{}"),
      // user 4: view AFTER the click must not count for that click
      (40L, ts(2), 4L, "click", 0.0, "{}"),
      (41L, ts(3), 4L, "view", 0.0, "{}"),
      (42L, ts(4), 4L, "purchase", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    events.write.mode("overwrite")
      .parquet("/tmp/graft-test-funnel/events.parquet")
    val got = Queries.all("e06_funnel")(spark, "/tmp/graft-test-funnel")
      .select("purchase_id", "click_id", "view_id", "full_funnel")
      .as[(Long, Option[Long], Option[Long], Boolean)]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(12L) == ((Some(11L), Some(10L), true)))
    assert(got(21L) == ((Some(20L), None, false)))
    assert(got(31L) == ((None, None, false)))
    // the click at t2 predates the view at t3 → no view attribution
    assert(got(42L) == ((Some(40L), None, false)))
  }

  // ---- d07 decontamination ----------------------------------------

  test("decontamination flags only train docs sharing eval 5-grams") {
    val evalText = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (0L, evalText, "en", "s", 1L),              // eval slice (id%50==0)
      (1L, "alpha beta gamma delta epsilon", "en", "s", 1L), // hit
      (2L, "unrelated words with no overlap at all", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite")
      .parquet("/tmp/graft-test-decon/documents.parquet")
    val got = Queries.all("d07_decontaminate")(
        spark, "/tmp/graft-test-decon")
      .select("doc_id", "n_hits")
      .as[(Long, Long)].collect().toMap
    // doc 1 has exactly one 5-gram and it appears in the eval doc;
    // doc 2 has 4 distinct 5-grams, none contaminated
    assert(got == Map(1L -> 1L, 2L -> 0L))
  }

  // ---- t09 char-trigram LM ----------------------------------------

  test("charlm scores deterministic trigrams above surprising ones") {
    val docs = Seq(
      // "aaaa": trigrams aaa,aaa — P(a|aa) = 1 within this corpus slice
      (1L, "aaaa", "en", "s", 1L),
      // "aab" makes the aa-prefix ambiguous → both docs' scores drop
      (2L, "aab", "en", "s", 1L),
      (3L, "xy", "en", "s", 1L)) // too short: no trigram, no row
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite")
      .parquet("/tmp/graft-test-charlm/documents.parquet")
    val got = Queries.all("t09_charlm")(spark, "/tmp/graft-test-charlm")
      .select("doc_id", "n_tris", "avg_logp")
      .as[(Long, Long, Double)].collect()
      .map { case (k, n, a) => k -> ((n, a)) }.toMap
    assert(!got.contains(3L))
    val (n1, a1) = got(1L)
    val (n2, a2) = got(2L)
    // doc 1: trigrams {aaa x2}; corpus bigram 'aa' appears 3x (2 in
    // doc1, 1 in doc2) → P(aaa)=2/3 per trigram → avg ln(2/3)
    assert(n1 == 2L && math.abs(a1 - math.log(2.0 / 3)) < 1e-3)
    // doc 2: trigram aab, P=1/3 → avg ln(1/3)
    assert(n2 == 1L && math.abs(a2 - math.log(1.0 / 3)) < 1e-3)
  }

  // ---- t08 tf-idf -------------------------------------------------

  test("tf-idf ranks distinctive terms above ubiquitous ones") {
    val docs = Seq(
      (1L, "common rare1 common common", "en", "s", 1L),
      (2L, "common rare2", "en", "s", 1L),
      (3L, "common rare3", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite")
      .parquet("/tmp/graft-test-tfidf/documents.parquet")
    val got = Queries.all("t08_tfidf")(spark, "/tmp/graft-test-tfidf")
    val top = got.filter(col("rn") === 1)
      .select("doc_id", "term").as[(Long, String)].collect().toMap
    // "common" is in every doc → idf ln(1) = 0; rare terms win
    assert(top == Map(1L -> "rare1", 2L -> "rare2", 3L -> "rare3"))
    // ubiquitous term scores exactly 0 everywhere
    val commonScores = got.filter(col("term") === "common")
      .select("tfidf").as[Double].collect()
    assert(commonScores.forall(_ == 0.0))
  }
}
