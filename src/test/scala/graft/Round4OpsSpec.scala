package graft

import graft.graph.Components
import graft.graph.SizePolicy.forcing
import org.apache.spark.sql.functions._

/** Round-4 wiring: native session_window (e07) pinned to the manual
  * lag+cumsum sessionization (e02), retention (e08), tile dedup
  * (m03), and the native-typed driver finish in Components. */
class Round4OpsSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("e07 session_window matches e02's session count and volume") {
    val manual = Queries.e02_sessionize(spark, sf)
    val native = Queries.e07_session_window(spark, sf)
    assert(native.count() == manual.count())
    // same partition of events into sessions → identical per-session
    // event counts and value sums, not just the same session count
    val key = Seq("user_id", "n_events", "sum_value")
    assert(native.groupBy(key.map(col): _*).count()
      .except(manual.groupBy(key.map(col): _*).count()).count() == 0)
  }

  test("e08 retention: day-0 cell count equals distinct users") {
    val ret = Queries.e08_retention(spark, sf)
    val users = spark.read
      .parquet(s"$sf/events.parquet").select("user_id").distinct.count()
    val day0 = ret.filter(col("day_offset") === 0)
      .agg(sum("n_users")).as[Long].head()
    assert(day0 == users)
    // no cell can exceed its cohort's day-0 size
    val day0ByCohort = ret.filter(col("day_offset") === 0)
      .select(col("cohort"), col("n_users").as("d0"))
    val overs = ret.join(day0ByCohort, "cohort")
      .filter(col("n_users") > col("d0")).count()
    assert(overs == 0)
    assert(ret.count() > 0)
  }

  test("m03 tile dedup finds the planted cross-document tile") {
    val docs = Seq(
      (1L, "x" * 600), (2L, "x" * 600), (3L, "unique-" + "y" * 300)
    ).toDF("doc_id", "text")
    val media = graft.multimodal.Multimodal.asMedia(docs, "doc_id", "text")
    val tiles = graft.multimodal.Multimodal.chunkPayload(media, 256)
      .filter(length(col("chunk")) > 0)
      .select(col("media_id"), md5(hex(col("chunk"))).as("tile_hash"))
      .groupBy("tile_hash")
      .agg(countDistinct("media_id").as("n_media"))
      .filter(col("n_media") >= 2)
    // docs a and b share every 256-byte tile; c shares none
    assert(tiles.count() > 0)
    assert(tiles.agg(max("n_media")).as[Long].head() == 2L)
  }

  test("driver finish handles string ids in their native type") {
    // an unconditional long cast would null every id here and merge
    // all three components under one key
    val nodes = Seq("a", "b", "c", "d", "e").toDF("id")
    val edges = Seq(("b", "a"), ("d", "e")).toDF("id1", "id2")
    val got = Components.connectedComponents(nodes, edges)
      .as[(String, String)].collect().toMap
    assert(got == Map("a" -> "a", "b" -> "a", "c" -> "c",
      "d" -> "d", "e" -> "d"))
  }

  test("globalRunningSum matches a sequential prefix sum, partitioned plan") {
    val df = (1L to 100L).map(i => (i, i % 7 + 1)).toDF("id", "m")
    val got = graft.operators.Relational
      .globalRunningSum(df, col("m"), "cum", rangeParts = 8,
        col("id").asc)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.linesIterator.filter(_.contains("Window"))
      .forall(_.contains("graft_pid")))
    val rows = got.select("id", "cum").as[(Long, Long)]
      .collect().toMap
    var cum = 0L
    (1L to 100L).foreach { i =>
      assert(rows(i) == cum, s"id $i")
      cum += i % 7 + 1
    }
  }

  test("q38 packing: bins are contiguous doc ranges, tokens add up") {
    val packed = Queries.q38_pack_sequences(spark, sf)
      .orderBy("bin")
      .select("bin", "n_docs", "bin_tokens", "first_doc", "last_doc")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(packed.nonEmpty)
    // bins partition the corpus: doc ranges never overlap and every
    // doc is in exactly one bin
    packed.sliding(2).foreach {
      case Array(a, b) => assert(a._5 < b._4)
      case _ =>
    }
    val total = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(packed.map(_._2).sum == total)
  }

  test("e09 interval join keeps exactly the views in the hour window") {
    import java.sql.Timestamp
    val base = 1700000000000L
    val ev = Seq(
      (1L, 10L, "click", new Timestamp(base + 7200000L)),
      (2L, 10L, "view", new Timestamp(base + 7200000L - 10L)),   // in
      (3L, 10L, "view", new Timestamp(base + 7200000L - 3599999L)), // in (edge)
      (4L, 10L, "view", new Timestamp(base + 7200000L - 3600001L)), // out (too old)
      (5L, 10L, "view", new Timestamp(base + 7200000L)),         // out (not strictly before)
      (6L, 99L, "view", new Timestamp(base + 7200000L - 10L))    // out (other user)
    ).toDF("event_id", "user_id", "event_type", "ts")
    ev.createOrReplaceTempView("graft_e09_fixture")
    // rebuild the query over the fixture via the same bucketed shape
    val e = ev.select(col("event_id"), col("user_id"), col("event_type"),
      unix_millis(col("ts")).as("ms"))
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        col("ms").as("vms"), floor(col("ms") / 3600000L).as("bin"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ms").as("cms"),
        explode(array(floor(col("ms") / 3600000L) - 1,
          floor(col("ms") / 3600000L))).as("bin"))
    val got = clicks.join(views, Seq("user_id", "bin"))
      .filter(col("vms") >= col("cms") - 3600000L &&
        col("vms") < col("cms"))
      .select("view_id").as[Long].collect().toSet
    assert(got == Set(2L, 3L))
  }

  test("q40 scd2 collapses runs and chains validity intervals") {
    val ret = Queries.q40_scd2(spark, sf)
    // intervals chain: within a user, each valid_to equals the next
    // valid_from (or -1 for the last run)
    val bad = ret.as("a").join(ret.as("b"),
        col("a.user_id") === col("b.user_id") &&
        col("a.run_id") + 1 === col("b.run_id"))
      .filter(col("a.valid_to_ms") =!= col("b.valid_from_ms")).count()
    assert(bad == 0)
    // runs collapse: consecutive runs never share an event_type
    val same = ret.as("a").join(ret.as("b"),
        col("a.user_id") === col("b.user_id") &&
        col("a.run_id") + 1 === col("b.run_id"))
      .filter(col("a.event_type") === col("b.event_type")).count()
    assert(same == 0)
  }

  test("t10 coverage is monotone and ends at 1e6 when vocab fits") {
    val rows = Queries.t10_vocab_coverage(spark, sf)
      .orderBy("rank").select("rank", "coverage_ppm")
      .as[(Long, Long)].collect()
    assert(rows.nonEmpty)
    assert(rows.sliding(2).forall {
      case Array(a, b) => a._2 <= b._2
      case _ => true
    })
    // at sf0.001 the synthetic vocab is < 200 terms → full coverage
    if (rows.length < 200) assert(rows.last._2 == 1000000L)
  }

  test("q41 cube grand total equals the table count") {
    val cube = Queries.q41_cube(spark, sf)
    val grand = cube.filter(col("status") === "ALL" &&
        col("priority") === "ALL")
      .select("n").as[Long].collect()
    val n = spark.read.parquet(s"$sf/orders.parquet").count()
    assert(grand.toSeq == Seq(n))
    // per-status marginals sum to the grand total
    val marg = cube.filter(col("status") =!= "ALL" &&
        col("priority") === "ALL")
      .agg(sum("n")).as[Long].head()
    assert(marg == n)
  }

  test("q39 stratified sample is deterministic and respects strata") {
    val a = Queries.q39_stratified_sample(spark, sf)
      .select("doc_id").as[Long].collect().toSet
    val b = Queries.q39_stratified_sample(spark, sf)
      .select("doc_id").as[Long].collect().toSet
    assert(a == b && a.nonEmpty)
    // every sampled row's bucket is under its stratum rate
    val bad = Queries.q39_stratified_sample(spark, sf)
      .filter(col("bucket") >=
        when(col("lang") === "en", 20)
          .when(col("lang") === "zh", 40).otherwise(60)).count()
    assert(bad == 0)
  }

  test("pageRank: uniform on a regular graph, mass conserved") {
    // 4-cycle (2-regular, symmetric): the uniform distribution is
    // stationary, so every node must keep exactly total/n units
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
    val edges = (cyc ++ cyc.map(_.swap)).toDF("src", "dst")
    val r = graft.graph.PageRank.pageRank(edges, iters = 5)
      .as[(Long, Long)].collect().toMap
    assert(r.values.toSet == Set(250000000000L))
    assert(r.values.sum == 1000000000000L)
  }

  test("pageRank ranks the hub above the spokes") {
    // star: hub 1 connected to 2..6, symmetrized
    val spokes = (2L to 6L).map(i => (1L, i))
    val edges = (spokes ++ spokes.map(_.swap)).toDF("src", "dst")
    val r = graft.graph.PageRank.pageRank(edges, iters = 5)
      .as[(Long, Long)].collect().toMap
    assert((2L to 6L).forall(i => r(1L) > r(i)))
    // spokes are symmetric — identical ranks
    assert((2L to 6L).map(r).toSet.size == 1)
    // quantization loses at most a few units per node per round
    assert(math.abs(r.values.sum - 1000000000000L) < 1000L)
  }

  test("q42 hll estimate lands within theory bounds of exact") {
    val rows = Queries.q42_hll_distinct(spark, sf)
      .select("n_approx", "n_exact").as[(Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (approx, exact) =>
      // raw HLL at m=64 has σ ≈ 1.04/√64 ≈ 13%; allow 3σ
      val err = math.abs(approx - exact).toDouble / exact
      assert(err < 0.4, s"approx $approx vs exact $exact")
    }
  }

  test("triangle count: K4, star and path fixtures") {
    def tri(edges: Seq[(Long, Long)]): (Long, Long, Long, Long) =
      graft.graph.Triangles.count(edges.toDF("id1", "id2"))
        .as[(Long, Long, Long, Long)].head()
    // K4: 4 nodes, 6 edges, C(4,3)=4 triangles
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    assert(tri(k4) == ((4L, 6L, 4L, 4L)))
    // star: hub-heavy, zero triangles — and with orientation the hub
    // generates ZERO wedges (all its edges point inbound)
    val star = (2L to 7L).map(i => (1L, i))
    val (n, e, w, t) = tri(star)
    assert((n, e, t) == ((7L, 6L, 0L)) && w == 0L)
    // triangle + tail
    assert(tri(Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)))
      ._4 == 1L)
    // duplicate/reversed edge rows collapse
    assert(tri(Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (1L, 3L)))
      ._4 == 1L)
  }

  test("e10 sliding windows hold each event exactly twice") {
    val total = Queries.e10_sliding_window(spark, sf)
      .agg(sum("n_events")).as[Long].head()
    val events = spark.read.parquet(s"$sf/events.parquet").count()
    assert(total == 2 * events)
  }

  test("q45 correlation is bounded and carries the full row count") {
    val rows = Queries.q45_corr(spark, sf)
      .select("n", "corr_vh").as[(Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, c) => assert(c >= -1.0 && c <= 1.0) }
    val events = spark.read.parquet(s"$sf/events.parquet").count()
    assert(rows.map(_._1).sum == events)
  }

  test("string-id driver finish agrees with the distributed loop") {
    val nodes = Seq("n1", "n2", "n3", "n4").toDF("id")
    val edges = Seq(("n2", "n3"), ("n3", "n4")).toDF("id1", "id2")
    val a = Components.connectedComponents(nodes, edges)
      .as[(String, String)].collect().toMap
    val b = forcing(driverMaxEdges = 0L)(
        Components.connectedComponents(nodes, edges))
      .as[(String, String)].collect().toMap
    assert(a == b)
  }

  test("both finish paths agree on supplementary-plane string ids") {
    // UTF-16 code units sort the emoji (surrogate 0xD83D) BELOW
    // U+FFFF; Catalyst's min compares UTF-8 bytes and sorts it ABOVE.
    // The driver finish must follow Catalyst, not String.compareTo.
    val hi = "￿"
    val emoji = new String(Character.toChars(0x1F600))
    val nodes = Seq(hi, emoji).toDF("id")
    val edges = Seq((hi, emoji)).toDF("id1", "id2")
    val a = Components.connectedComponents(nodes, edges)
      .as[(String, String)].collect().toMap
    val b = forcing(driverMaxEdges = 0L)(
        Components.connectedComponents(nodes, edges))
      .as[(String, String)].collect().toMap
    assert(a == b)
    assert(a.values.toSet == Set(hi)) // UTF-8 byte order picks U+FFFF
  }
}
