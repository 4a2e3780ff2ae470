package graft

import graft.streaming.Streams
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.functions.col
import java.sql.Timestamp

class StreamsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 00:$minute%02d:00")

  test("streamingMinuteBars == batch bars across arbitrary batch " +
    "splits, and their hour rollup == direct hourly bars") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    // real sf0.001 events, time-compressed 2000x so minute bars hold
    // ~45 ticks each (raw spacing is ~43 min — every bar would be a
    // singleton and the fold would go unexercised), replayed in
    // event-time order (a replayed log) over three UNEVEN batches
    val rows = graft.sources.Tables.events(spark, sf("sf0.001"))
      .select(col("event_id"), col("ts"), col("event_type"),
        col("value"))
      .as[(Long, Timestamp, String, Double)].collect()
      .sortBy(r => (r._2.getTime, r._1))
    val t0 = rows.head._2.getTime
    val comp = rows.map { case (id, t, et, v) =>
      (id, new Timestamp(1704067200000L + (t.getTime - t0) / 2000),
        et, v)
    }
    val mem = MemoryStream[(Long, Timestamp, String, Double)]
    val df = mem.toDF().toDF("event_id", "ts", "event_type", "value")
    val q = Streams.streamingMinuteBars(df, lateness = "1 minute")
      .writeStream.format("memory").queryName("mbars")
      .outputMode(OutputMode.Append()).start()
    val streamed = try {
      val (b1, rest) = comp.splitAt(137)
      val (b2, b3) = rest.splitAt(401)
      Seq(b1, b2, b3).foreach { b =>
        mem.addData(b.toSeq: _*); q.processAllAvailable()
      }
      // sentinel an hour later flushes every in-flight bar
      mem.addData((999999L,
        new Timestamp(comp.last._2.getTime + 3600000L), "view", 0.0))
      q.processAllAvailable()
      val sentinelMinute =
        (comp.last._2.getTime + 3600000L) / 60000L
      spark.table("mbars").filter(col("minute") < sentinelMinute)
    } finally q.stop()
    def barify(src: org.apache.spark.sql.DataFrame) = src
      .select(col("event_type"), unix_millis(col("ts")).as("ms"),
        col("event_id"),
        expr("CAST(round(value * 100, 0) AS BIGINT)").as("cents"))
      .withColumn("k",
        (col("ms") % 3600000L) * lit(8589934592L) + col("event_id"))
    val batchBars = barify(comp.toSeq
        .toDF("event_id", "ts", "event_type", "value"))
      .groupBy(col("event_type"),
        floor(col("ms") / 60000L).as("minute"))
      .agg(count(lit(1)).as("n_events"),
        sum("cents").cast("long").as("volume_cents"),
        min("cents").as("low"), max("cents").as("high"),
        min("k").as("min_k"), max("k").as("max_k"),
        min_by(col("cents"), col("k")).as("open"),
        max_by(col("cents"), col("k")).as("close"))
    val sCols = streamed.columns.sorted.map(col).toSeq
    val a = streamed.select(sCols: _*).collect().map(_.toString).sorted
    val b = batchBars.select(sCols: _*).collect().map(_.toString).sorted
    assert(a.nonEmpty && a.toSeq == b.toSeq,
      "streamed minute bars differ from batch bars")
    // the associative rollup: hour bars from STREAMED minute bars
    // must equal the direct hourly fold over the raw compressed feed
    val rolled = streamed
      .withColumn("hour", floor(col("minute") / 60L))
      .groupBy("event_type", "hour")
      .agg(sum("n_events").cast("long").as("n_events"),
        sum("volume_cents").cast("long").as("volume_cents"),
        min("low").as("low"), max("high").as("high"),
        min_by(col("open"), col("min_k")).as("open"),
        max_by(col("close"), col("max_k")).as("close"))
    val direct = barify(comp.toSeq
        .toDF("event_id", "ts", "event_type", "value"))
      .groupBy(col("event_type"),
        floor(col("ms") / 3600000L).as("hour"))
      .agg(count(lit(1)).as("n_events"),
        sum("cents").cast("long").as("volume_cents"),
        min("cents").as("low"), max("cents").as("high"),
        min_by(col("cents"), col("k")).as("open"),
        max_by(col("cents"), col("k")).as("close"))
    val rCols = rolled.columns.sorted.map(col).toSeq
    val r = rolled.select(rCols: _*).collect().map(_.toString).sorted
    val d2 = direct.select(rCols: _*).collect().map(_.toString).sorted
    assert(r.nonEmpty && r.toSeq == d2.toSeq,
      "hour rollup of streamed bars differs from direct hourly bars")
  }

  test("windowedTypeStats aggregates tumbling windows incrementally") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "event_type", "value")
    val q = Streams.windowedTypeStats(df, window = "10 minutes",
        lateness = "5 minutes")
      .writeStream.format("memory").queryName("wts")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData((ts(1), "click", 1.0), (ts(2), "click", 2.0),
        (ts(5), "view", 5.0))
      q.processAllAvailable()
      // advance watermark far enough to close the first window
      mem.addData((ts(59), "click", 9.0))
      q.processAllAvailable()
      val rows = spark.table("wts")
        .select("event_type", "n_events", "sum_value")
        .as[(String, Long, Double)].collect().toSet
      assert(rows.contains(("click", 2L, 3.0)))
      assert(rows.contains(("view", 1L, 5.0)))
    } finally q.stop()
  }

  test("streamDedup drops repeated keys within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long)]
    val df = mem.toDF().toDF("ts", "doc_id")
    val q = Streams.streamDedup(df, "ts", "10 minutes", "doc_id")
      .writeStream.format("memory").queryName("dedup")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData((ts(1), 1L), (ts(2), 1L), (ts(3), 2L))
      q.processAllAvailable()
      assert(spark.table("dedup").count() == 2)
    } finally q.stop()
  }

  test("sessionize merges late events without regressing the session") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.Event]
    val q = Streams.sessionize(mem.toDS(), gapMs = 10 * 60 * 1000)
      .writeStream.format("memory").queryName("sess_late")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(Streams.Event(1L, ts(0), 1.0),
        Streams.Event(1L, ts(5), 2.0))
      q.processAllAvailable()
      // late replay from before the session: merges, must NOT close it
      mem.addData(Streams.Event(1L, ts(2), 4.0))
      q.processAllAvailable()
      mem.addData(Streams.Event(1L, ts(30), 8.0)) // closes (gap 25m)
      q.processAllAvailable()
      val rows = spark.table("sess_late")
        .select("user_id", "n_events", "sum_value")
        .as[(Long, Long, Double)].collect().toSet
      assert(rows == Set((1L, 3L, 7.0)))
    } finally q.stop()
  }

  test("attributionJoin matches conversions within the window only") {
    implicit val sqlCtx = spark.sqlContext
    val trig = MemoryStream[(Long, Long, Timestamp)]
    val conv = MemoryStream[(Long, Long, Timestamp)]
    val cols = Seq("user_id", "event_id", "ts")
    val q = Streams.attributionJoin(
        trig.toDF().toDF(cols: _*), conv.toDF().toDF(cols: _*),
        maxDelayMinutes = 10)
      .writeStream.format("memory").queryName("attr")
      .outputMode(OutputMode.Append()).start()
    try {
      trig.addData((1L, 100L, ts(0)), (2L, 200L, ts(0)))
      // user 1 converts inside the window; user 2 converts too late
      conv.addData((1L, 900L, ts(5)), (2L, 901L, ts(25)))
      q.processAllAvailable()
      val rows = spark.table("attr")
        .select("user_id", "trigger_id", "conversion_id", "delay_ms")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(rows == Set((1L, 100L, 900L, 5L * 60 * 1000)))
    } finally q.stop()
  }

  test("attributionJoin is many-to-many; lastTouch picks one trigger") {
    implicit val sqlCtx = spark.sqlContext
    val trig = MemoryStream[(Long, Long, Timestamp)]
    val conv = MemoryStream[(Long, Long, Timestamp)]
    val cols = Seq("user_id", "event_id", "ts")
    val q = Streams.attributionJoin(
        trig.toDF().toDF(cols: _*), conv.toDF().toDF(cols: _*),
        maxDelayMinutes = 10)
      .writeStream.format("memory").queryName("attr_mm")
      .outputMode(OutputMode.Append()).start()
    try {
      // two triggers precede the same conversion inside the window
      trig.addData((1L, 100L, ts(0)), (1L, 101L, ts(3)))
      conv.addData((1L, 900L, ts(5)))
      q.processAllAvailable()
      val attributed = spark.table("attr_mm")
      val rows = attributed
        .select("trigger_id", "conversion_id", "delay_ms")
        .as[(Long, Long, Long)].collect().toSet
      // documented semantics: one row PER preceding trigger
      assert(rows == Set((100L, 900L, 5L * 60 * 1000),
        (101L, 900L, 2L * 60 * 1000)))
      // last-touch downstream pick keeps the most recent trigger only
      val last = Streams.lastTouch(attributed)
        .select("user_id", "trigger_id", "conversion_id", "delay_ms")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(last == Set((1L, 101L, 900L, 2L * 60 * 1000)))
    } finally q.stop()
  }

  test("streamingTopK dedups re-scored items, keeping the max score") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.Scored]
    val q = Streams.streamingTopK(mem.toDS(), k = 2)
      .writeStream.format("memory").queryName("stopk_dedup")
      .outputMode(OutputMode.Update()).start()
    try {
      mem.addData(Streams.Scored(1L, 10L, 0.5),
        Streams.Scored(1L, 11L, 0.4))
      q.processAllAvailable()
      // item 10 re-arrives with a new score: must occupy ONE slot at
      // its best score, not evict item 11 with a duplicate entry
      mem.addData(Streams.Scored(1L, 10L, 0.9))
      q.processAllAvailable()
      val last = spark.table("stopk_dedup")
        .as[Streams.TopKOut].collect()
        .filter(_.user_id == 1L).last
      assert(last.item_ids == Seq(10L, 11L))
      assert(last.scores == Seq(0.9, 0.4))
    } finally q.stop()
  }

  test("streamingTopK keeps the k best per key across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.Scored]
    val q = Streams.streamingTopK(mem.toDS(), k = 2)
      .writeStream.format("memory").queryName("stopk")
      .outputMode(OutputMode.Update()).start()
    try {
      mem.addData(Streams.Scored(1L, 10L, 0.5),
        Streams.Scored(1L, 11L, 0.9))
      q.processAllAvailable()
      // a later batch with a better item evicts the weakest
      mem.addData(Streams.Scored(1L, 12L, 0.7))
      q.processAllAvailable()
      val last = spark.table("stopk")
        .as[Streams.TopKOut].collect()
        .filter(_.user_id == 1L).last
      assert(last.item_ids == Seq(11L, 12L))
      assert(last.scores == Seq(0.9, 0.7))
    } finally q.stop()
  }

  test("streamingNearDupSignal: dup doc has zero novel bands") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String)]
    val df = mem.toDF().toDF("ts", "doc_id", "text")
    val q = Streams.streamingNearDupSignal(df, lateness = "5 minutes",
        window = "10 minutes")
      .writeStream.format("memory").queryName("neardup")
      .outputMode(OutputMode.Append()).start()
    try {
      val text = "alpha beta gamma delta epsilon zeta eta theta"
      mem.addData((ts(1), 1L, text))
      q.processAllAvailable()
      // doc 2 is an exact dup → every band key already seen
      mem.addData((ts(2), 2L, text))
      q.processAllAvailable()
      // short docs (< shingleSize tokens) must NOT alias each other:
      // without the token guard their empty shingle sets would share
      // md5('')-derived band keys and doc 4 would vanish as a "dup"
      // of doc 3
      mem.addData((ts(3), 3L, "too short"), (ts(4), 4L, "also tiny"))
      q.processAllAvailable()
      // close the window so the counts emit
      mem.addData((ts(40), 9L, "totally different filler words here"))
      q.processAllAvailable()
      val got = spark.table("neardup")
        .select("doc_id", "novel_bands")
        .as[(Long, Long)].collect().toMap
      assert(got(1L) == 4L)      // all 4 bands novel
      assert(!got.contains(2L))  // zero novel bands → no row at all
      assert(!got.contains(3L) && !got.contains(4L)) // guarded out
    } finally q.stop()
  }

  test("streamingNearDupImpact: chained impact rows == a batch " +
    "replay of band novelty over identical payloads") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val mem = MemoryStream[(Timestamp, Long, String)]
    val df = mem.toDF().toDF("ts", "doc_id", "text")
    val q = Streams.streamingNearDupImpact(df, lateness = "5 minutes",
        window = "10 minutes")
      .writeStream.format("memory").queryName("ndimpact")
      .outputMode(OutputMode.Append()).start()
    val text = "alpha beta gamma delta epsilon zeta eta theta"
    val other = "one two three four five six seven eight nine"
    val docs = Seq( // (minute, doc_id, text)
      (1, 1L, text),            // window 0: novel
      (2, 2L, text),            // window 0: exact dup → suppressed
      (3, 3L, "too short"),     // excluded (< 3 tokens)
      (12, 4L, other),          // window 1: novel
      (14, 5L, other),          // window 1: dup inside the horizon
      (16, 6L, text))           // window 1: doc 1's bands EXPIRED
                                // (lateness horizon) → novel again
    try {
      // one doc per micro-batch: first-seen band order is then the
      // arrival order, which the replay below assumes
      docs.foreach { case (m, id, t) =>
        mem.addData((ts(m), id, t)); q.processAllAvailable()
      }
      // minute 40: watermark (35) passes both windows' ends
      mem.addData((ts(40), 99L, "closing filler words here now"))
      q.processAllAvailable()
      val got = spark.table("ndimpact")
        .select("window_start", "n_docs", "n_suppressed",
          "tokens_total", "tokens_suppressed", "tokens_suppressed_ppm")
        .as[(Timestamp, Long, Long, Long, Long, Long)].collect()
        .map(r => r._1.getTime -> ((r._2, r._3, r._4, r._5, r._6)))
        .toMap
      // batch replay: band keys via the SAME batch dedup kernels
      val bandsOf = docs.filter(_._3.split("\\s+").length >= 3)
        .map { case (m, id, t) => (m, id, t) }
      val bdf = bandsOf.toDF("m", "doc_id", "text")
      val shingles = array_distinct(
        graft.text.TextFunctions.wordShingles(col("text"), 3))
      val sig = graft.dedup.Dedup.minhashSignature(shingles, 12)
      val keys = graft.dedup.Dedup.lshBandKeys(sig, 4, 3)
      val rows = bdf.select(col("m"), col("doc_id"), keys.as("bands"),
          graft.text.TextFunctions.tokenCount(col("text")).as("ntok"))
        .as[(Int, Long, Seq[String], Long)].collect().sortBy(_._1)
      val ts0 = ts(0).getTime
      // horizon-aware replay: dropDuplicatesWithinWatermark keeps a
      // band key only for `lateness` past its event time, and the
      // one-doc-per-batch feed advances the watermark to
      // (max prior ts − lateness) before each doc processes — so a
      // band dedups iff its previous occurrence is still unexpired
      val lateMin = 5
      val seen = scala.collection.mutable.HashMap.empty[String, Int]
      var maxM = Int.MinValue
      val perDoc = rows.map { case (m, id, bands, ntok) =>
        val wm = maxM - lateMin
        seen.filterInPlace { case (_, expiry) => expiry >= wm }
        val novel = bands.count { b =>
          val isNew = !seen.contains(b)
          seen(b) = m + lateMin
          isNew
        }
        maxM = math.max(maxM, m)
        (m / 10, id, novel, ntok)
      }
      val want = perDoc.groupBy(_._1).map { case (w, ds) =>
        val supp = ds.filter(_._3 == 0)
        val tot = ds.map(_._4).sum
        val ts = supp.map(_._4).sum
        val ppm = if (tot == 0) 0L else (2 * 1000000 * ts + tot) / (2 * tot)
        (ts0 + w * 600000L) -> ((ds.length.toLong, supp.length.toLong,
          tot, ts, ppm))
      }
      assert(got == want.toMap, s"got $got want $want")
      // non-vacuous: both windows emitted, suppression happened
      assert(want.values.exists(_._2 > 0))
      assert(want.size == 2)
    } finally q.stop()
  }

  test("near-dup twins: the band keys are one codegen'd expression, " +
    "planned once per doc") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.expressions.ArrayFilter
    import org.apache.spark.sql.graft.MinhashBandKeys
    // the plan of the batch that carried the docs: a no-data batch
    // after it (the watermark moved) would prune to an empty relation
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
    def lastRun(name: String)(f: DataFrame => DataFrame) = {
      val mem = MemoryStream[(Timestamp, Long, String)]
      spark.conf.set(noData, "false")
      val q = try f(mem.toDF().toDF("ts", "doc_id", "text"))
          .writeStream.format("memory").queryName(name)
          .outputMode(OutputMode.Append()).start()
        finally spark.conf.unset(noData)
      try {
        mem.addData((ts(1), 1L, "alpha beta gamma delta"),
          (ts(2), 2L, "too short"))
        q.processAllAvailable()
        PlanPin.lastExecution(q)
      } finally q.stop()
    }
    val signal = lastRun("pin_signal")(
      Streams.streamingNearDupSignal(_, lateness = "5 minutes"))
    val impact = lastRun("pin_impact")(
      Streams.streamingNearDupImpact(_, lateness = "5 minutes"))
    assert(PlanPin.interpreted(signal.executedPlan).isEmpty,
      signal.executedPlan.treeString)
    // allowed: ntok is TextFunctions.tokenCount, whose `filter` over
    // the tokens is batch d17's definition of a doc's token count —
    // the impact rows must count tokens exactly as d17 does
    val impInterp = PlanPin.interpreted(impact.executedPlan)
    assert(impInterp.nonEmpty && impInterp.forall {
      case f: ArrayFilter =>
        f.argument.references.map(_.name).toSet == Set("text")
      case _ => false
    }, impInterp.mkString("\n"))
    for (e <- Seq(signal, impact)) {
      val k = classOf[MinhashBandKeys]
      assert(PlanPin.occurrences(e.optimizedPlan, k) == 1,
        e.optimizedPlan.treeString)
      assert(PlanPin.occurrences(e.executedPlan, k) == 1,
        e.executedPlan.treeString)
    }
  }

  test("sessionWindowStats emits closed sessions under the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, Double)]
    val df = mem.toDF().toDF("ts", "user_id", "value")
    val q = Streams.sessionWindowStats(df, gap = "10 minutes",
        lateness = "1 minute")
      .writeStream.format("memory").queryName("swin")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData((ts(0), 1L, 1.0), (ts(5), 1L, 2.0), (ts(3), 2L, 7.0))
      q.processAllAvailable()
      // 45 min later: both sessions are gap-closed and watermark-past
      mem.addData((ts(45), 3L, 9.0))
      q.processAllAvailable()
      val rows = spark.table("swin")
        .select("user_id", "n_events", "sum_value")
        .as[(Long, Long, Double)].collect().toSet
      assert(rows.contains((1L, 2L, 3.0)))
      assert(rows.contains((2L, 1L, 7.0)))
    } finally q.stop()
  }

  test("sessionize closes sessions after the gap") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.Event]
    val q = Streams.sessionize(mem.toDS(), gapMs = 10 * 60 * 1000)
      .writeStream.format("memory").queryName("sess")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(
        Streams.Event(1L, ts(0), 1.0),
        Streams.Event(1L, ts(5), 2.0)) // same session
      q.processAllAvailable()
      mem.addData(Streams.Event(1L, ts(30), 3.0)) // gap > 10m → closes
      q.processAllAvailable()
      val rows = spark.table("sess")
        .select("user_id", "n_events", "sum_value")
        .as[(Long, Long, Double)].collect().toSet
      assert(rows.contains((1L, 2L, 3.0)))
    } finally q.stop()
  }

  test("streamingHll matches the batch sketch bit-for-bit") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long)]
    val obs = Streams.hllObservations(
      mem.toDF().toDF("g", "v"), "g", "v")
    val q = Streams.streamingHll(obs)
      .writeStream.format("memory").queryName("hll")
      .outputMode(OutputMode.Update()).start()
    val usersA = (1L to 80L).map(("a", _))
    val usersB = (1L to 15L).map(("b", _))
    try {
      mem.addData(usersA.take(40) ++ usersB)
      q.processAllAvailable()
      mem.addData(usersA.drop(40) ++ usersA.take(10)) // re-arrivals
      q.processAllAvailable()
      // last emission per group = the final sketch
      val last = spark.table("hll")
        .groupBy("group").agg(org.apache.spark.sql.functions
          .last("s_scaled").as("s"), org.apache.spark.sql.functions
          .last("n_approx").as("est"))
        .as[(String, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      // batch registers over the SAME rows via the same derivation
      val batch = Streams.hllObservations(
          (usersA ++ usersB).toDF("g", "v"), "g", "v")
        .groupBy("group", "j")
        .agg(org.apache.spark.sql.functions.max("rho").as("m"))
        .as[(String, Int, Int)].collect()
        .groupBy(_._1).map { case (g, rows) =>
          val regs = new Array[Int](64)
          rows.foreach { case (_, j, m) => regs(j) = m }
          val s = regs.map(m => 1L << (40 - math.min(m, 40))).sum
          g -> s
        }
      assert(last("a")._1 == batch("a") && last("b")._1 == batch("b"))
      // small-range correction keeps tiny groups honest
      assert(math.abs(last("b")._2 - 15L) <= 6L)
      assert(math.abs(last("a")._2 - 80L) <= 30L)
      // and the estimate IS the shared estimator over the batch
      // registers, exactly ("b" takes the small-range branch)
      val sums = org.apache.spark.sql.graft.HllRegisters.sparseSums("m")
      val batchEst = Streams.hllObservations(
          (usersA ++ usersB).toDF("g", "v"), "g", "v")
        .groupBy("group", "j")
        .agg(org.apache.spark.sql.functions.max("rho").as("m"))
        .groupBy("group").agg(sums.head, sums.tail: _*)
        .select(col("group"), org.apache.spark.sql.graft.HllRegisters.estimate)
        .as[(String, Long)].collect().toMap
      assert(last("a")._2 == batchEst("a") && last("b")._2 == batchEst("b"))
    } finally q.stop()
  }

  test("streamingOutliers flags online anomalies with moment state") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.CentEvent]
    val q = Streams.streamingOutliers(mem.toDS())
      .writeStream.format("memory").queryName("souts")
      .outputMode(OutputMode.Append()).start()
    // user 1: 25 calm events (cents 100±5) then one spike, then more
    // calm events in a SECOND batch plus another spike — state must
    // carry the moments across batches
    val calm1 = (1 to 25).map(i =>
      Streams.CentEvent(1L, i.toLong, ts(i % 50), 100L + i % 5))
    val spike1 = Streams.CentEvent(1L, 26L, ts(26), 5000L)
    val calm2 = (27 to 40).map(i =>
      Streams.CentEvent(1L, i.toLong, ts(i), 100L + i % 5))
    val spike2 = Streams.CentEvent(1L, 41L, ts(41), 4000L)
    // user 2: never reaches 20 events — must never flag, even with a
    // huge spike
    val shortU = (1 to 10).map(i =>
      Streams.CentEvent(2L, (100 + i).toLong, ts(i), 100L)) :+
      Streams.CentEvent(2L, 111L, ts(11), 99999L)
    try {
      mem.addData(calm1 :+ spike1: _*)
      q.processAllAvailable()
      mem.addData((calm2 :+ spike2) ++ shortU: _*)
      q.processAllAvailable()
      val got = spark.table("souts")
        .select("user_id", "event_id", "n_seen")
        .as[(Long, Long, Long)].collect().toSet
      // driver-side replay of the SAME online semantics
      val all = (calm1 :+ spike1) ++ (calm2 :+ spike2)
      var (n, s, qq) = (0L, 0L, 0L)
      val want = all.sortBy(e => (e.ts.getTime, e.event_id)).flatMap {
        e =>
          n += 1; s += e.cents; qq += e.cents * e.cents
          val num = e.cents * n - s
          if (n >= 20 && num * num > 9L * (n * qq - s * s))
            Some((e.user_id, e.event_id, n))
          else None
      }.toSet
      assert(got == want)
      // both spikes flagged, nothing from the short user
      assert(want.exists(_._2 == 26L) && want.exists(_._2 == 41L))
      assert(!got.exists(_._1 == 2L))
    } finally q.stop()
  }

  test("streamingTransitions emits the batch lag pairs across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.TypedEvent]
    val q = Streams.streamingTransitions(mem.toDS())
      .writeStream.format("memory").queryName("strans")
      .outputMode(OutputMode.Append()).start()
    val b1 = Seq(
      Streams.TypedEvent(1L, 1L, ts(1), "view"),
      Streams.TypedEvent(1L, 2L, ts(2), "cart"),
      Streams.TypedEvent(2L, 3L, ts(1), "view"))
    // second batch: user 1's transition must cross the batch
    // boundary through the stored state; user 2 chains two more
    val b2 = Seq(
      Streams.TypedEvent(1L, 4L, ts(3), "buy"),
      Streams.TypedEvent(2L, 5L, ts(2), "view"),
      Streams.TypedEvent(2L, 6L, ts(3), "buy"))
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val got = spark.table("strans").as[Streams.TransOut].collect()
        .map(t => (t.user_id, t.prev, t.next)).toSeq.sorted
      // the batch-q58 pair extraction over the same log
      val want = Seq((1L, "view", "cart"), (1L, "cart", "buy"),
        (2L, "view", "view"), (2L, "view", "buy")).sorted
      assert(got == want)
    } finally q.stop()
  }

  test("streamingDrift: Page-Hinkley trajectory carries across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.CentEvent]
    val q = Streams.streamingDrift(mem.toDS(), delta = 50.0,
      lambda = 2000.0)
      .writeStream.format("memory").queryName("sdrift")
      .outputMode(OutputMode.Append()).start()
    // user 1: 30 calm events at ~100 cents, then a LEVEL SHIFT to
    // 400 cents — the shift segment is split across two batches so
    // the PH state (n, sum, m, mMin) must survive the boundary.
    // user 2: calm throughout — must never alarm.
    val calm = (1 to 30).map(i =>
      Streams.CentEvent(1L, i.toLong, ts(i), 100L + i % 3))
    val shifted = (31 to 60).map(i =>
      Streams.CentEvent(1L, i.toLong, ts(i), 400L + i % 3))
    val (shiftA, shiftB) = shifted.splitAt(10)
    val calmU2 = (1 to 60).map(i =>
      Streams.CentEvent(2L, (200 + i).toLong, ts(i), 100L + i % 3))
    try {
      mem.addData(calm ++ shiftA: _*)
      q.processAllAvailable()
      mem.addData(shiftB ++ calmU2: _*)
      q.processAllAvailable()
      val got = spark.table("sdrift")
        .as[Streams.DriftOut].collect()
        .map(d => (d.user_id, d.event_id, d.n_seen, d.ph)).toSet
      // driver-side replay of the same sequential PH fold
      var (n, s, m, mMin) = (0L, 0L, 0.0, 0.0)
      val want = (calm ++ shifted)
        .sortBy(e => (e.ts.getTime, e.event_id)).flatMap { e =>
          n += 1; s += e.cents
          m += e.cents - s.toDouble / n - 50.0
          mMin = math.min(mMin, m)
          if (m - mMin > 2000.0)
            Some((e.user_id, e.event_id, n,
              math.rint((m - mMin) * 1e4) / 1e4))
          else None
        }.toSet
      assert(got == want)
      // the shift alarms (more than once, no reset) and the calm
      // user never does
      assert(want.size > 1, "level shift never alarmed")
      assert(want.forall(_._1 == 1L))
      assert(!got.exists(_._1 == 2L))
    } finally q.stop()
  }

  test("streamingDriftByType: per-type (delta, lambda) routing") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.TypedCentEvent]
    // 'purchase' gets a TIGHT lambda (alarms on the shift);
    // 'click' gets a LOOSE one (the SAME shift stays silent) —
    // identical sequences, so any difference in output is purely the
    // per-type parameter routing. Shift split across two batches.
    val params = Map("purchase" -> (50.0, 2000.0),
      "click" -> (50.0, 1e9))
    val q = Streams.streamingDriftByType(mem.toDS(), params)
      .writeStream.format("memory").queryName("sdrifttyp")
      .outputMode(OutputMode.Append()).start()
    def seq(typ: String, base: Long) =
      (1 to 30).map(i => Streams.TypedCentEvent(1L, base + i, ts(i),
        typ, 100L + i % 3)) ++
      (31 to 60).map(i => Streams.TypedCentEvent(1L, base + i, ts(i),
        typ, 400L + i % 3))
    val pu = seq("purchase", 0L)
    val cl = seq("click", 1000L)
    val (a, b) = (pu ++ cl).sortBy(_.event_id).splitAt(75)
    try {
      mem.addData(a: _*)
      q.processAllAvailable()
      mem.addData(b: _*)
      q.processAllAvailable()
      val got = spark.table("sdrifttyp")
        .as[Streams.TypedDriftOut].collect()
        .map(d => (d.user_id, d.event_type, d.event_id, d.n_seen,
          d.ph)).toSet
      var (n, s, m, mMin) = (0L, 0L, 0.0, 0.0)
      val want = pu.sortBy(e => (e.ts.getTime, e.event_id))
        .flatMap { e =>
          n += 1; s += e.cents
          m += e.cents - s.toDouble / n - 50.0
          mMin = math.min(mMin, m)
          if (m - mMin > 2000.0)
            Some((e.user_id, e.event_type, e.event_id, n,
              math.rint((m - mMin) * 1e4) / 1e4))
          else None
        }.toSet
      assert(got == want)
      assert(want.nonEmpty, "tight-lambda type never alarmed")
      assert(!got.exists(_._2 == "click"),
        "loose-lambda type alarmed — params not routed per type")
    } finally q.stop()
  }

  test("streamingSnapshotApply replays q67's ops to the batch snapshot") {
    implicit val sqlCtx = spark.sqlContext
    val dir = sf("sf0.001")
    // the q67 prev/curr snapshots (same modulus carve-outs)
    def snap(parity: Int, excl: Int): Map[Long, (Long, Long)] =
      spark.read.parquet(dir + "/events.parquet")
        .selectExpr("user_id", "event_id",
          "CAST(round(value * 100, 0) AS BIGINT) AS cents")
        .filter(col("event_id") % 2 === parity &&
          col("user_id") % excl =!= 0)
        .groupBy("user_id")
        .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("n"),
          org.apache.spark.sql.functions.sum("cents").as("s"))
        .as[(Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
    val prev = snap(0, 5)
    val curr = snap(1, 7)
    // batch 1: insert everything in prev; batch 2: the q14/q67 diff
    val inserts = prev.toSeq.sortBy(_._1).zipWithIndex.map {
      case ((u, (n, sm)), i) =>
        Streams.SnapOp(i.toLong, u, "insert", Some(n), Some(sm))
    }
    val diff = (prev.keySet ++ curr.keySet).toSeq.sorted.flatMap { u =>
      (prev.get(u), curr.get(u)) match {
        case (None, Some((n, sm))) =>
          Some(Streams.SnapOp(0L, u, "insert", Some(n), Some(sm)))
        case (Some(_), None) =>
          Some(Streams.SnapOp(0L, u, "delete", None, None))
        case (Some((pn, ps)), Some((cn, cs))) if pn != cn || ps != cs =>
          Some(Streams.SnapOp(0L, u, "update",
            if (pn != cn) Some(cn) else None,
            if (ps != cs) Some(cs) else None))
        case _ => None // noop
      }
    }.zipWithIndex.map { case (o, i) => o.copy(seq = 1000000L + i) }
    assert(diff.exists(_.op == "insert"), "no insert exercised")
    assert(diff.exists(_.op == "delete"), "no delete exercised")
    assert(diff.exists(_.op == "update"), "no update exercised")
    val mem = MemoryStream[Streams.SnapOp]
    val q = Streams.streamingSnapshotApply(mem.toDS())
      .writeStream.format("memory").queryName("ssnap")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(inserts: _*)
      q.processAllAvailable()
      mem.addData(diff: _*)
      q.processAllAvailable()
      val rows = spark.table("ssnap").as[Streams.SnapOut].collect()
      val last = rows.groupBy(_.user_id).view
        .mapValues(_.maxBy(_.seq)).toMap
      val got = last.collect {
        case (u, o) if o.live => u -> ((o.n_events, o.sum_cents))
      }.toMap
      assert(got == curr, "streamed snapshot != batch curr")
      // and it matches the batch q67 apply itself (closure, streamed)
      val applied = Queries.q67_apply_ops(spark, dir)
        .as[(Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got == applied)
      // batch 3: PARTIAL-field updates (None = keep) - this corpus's
      // diffs always change both fields, so the ES partial-doc
      // contract is exercised synthetically on two live keys
      val (u1, st1) = got.head
      val (u2, st2) = got.last
      mem.addData(
        Streams.SnapOp(2000000L, u1, "update", Some(st1._1 + 7), None),
        Streams.SnapOp(2000001L, u2, "update", None, Some(st2._2 + 9)))
      q.processAllAvailable()
      val rows3 = spark.table("ssnap").as[Streams.SnapOut].collect()
      val l3 = rows3.groupBy(_.user_id).view
        .mapValues(_.maxBy(_.seq)).toMap
      assert(l3(u1).n_events == st1._1 + 7 &&
        l3(u1).sum_cents == st1._2, "partial n-update broke coalesce")
      assert(l3(u2).n_events == st2._1 &&
        l3(u2).sum_cents == st2._2 + 9, "partial s-update broke coalesce")
    } finally q.stop()
  }

  test("streamingDebounce reproduces batch e16 accounting across batches") {
    implicit val sqlCtx = spark.sqlContext
    val dir = sf("sf0.001")
    val ev = spark.read.parquet(dir + "/events.parquet")
      .select(col("user_id").cast("long"),
        col("event_id").cast("long"), col("ts").cast("timestamp"),
        col("event_type"))
      .as[Streams.TypedEvent].collect()
      .sortBy(e => (e.ts.getTime, e.event_id))
    val mem = MemoryStream[Streams.TypedEvent]
    val q = Streams.streamingDebounce(mem.toDS())
      .writeStream.format("memory").queryName("sdeb")
      .outputMode(OutputMode.Append()).start()
    val (a, b) = ev.toSeq.splitAt(ev.length / 2) // burst runs straddle
    try {
      mem.addData(a: _*)
      q.processAllAvailable()
      mem.addData(b: _*)
      q.processAllAvailable()
      val flags = spark.table("sdeb").as[Streams.DebounceOut]
        .collect().map(o => o.event_id -> o).toMap
      // reassemble per-key kept sequences in event-time order and
      // derive e16's four aggregates
      val got = ev.groupBy(e => (e.user_id, e.event_type)).view
        .mapValues { g =>
          val ks = g.sortBy(e => (e.ts.getTime, e.event_id))
            .map(e => flags(e.event_id).kept)
          val lens = scala.collection.mutable.ArrayBuffer.empty[Long]
          ks.foreach { k =>
            if (k) lens += 1L else lens(lens.length - 1) += 1L
          }
          (ks.length.toLong, lens.length.toLong,
            ks.length.toLong - lens.length, lens.max)
        }.toMap
      val want = Queries.e16_debounce(spark, dir)
        .as[(Long, String, Long, Long, Long, Long)].collect()
        .map(r => (r._1, r._2) -> (r._3, r._4, r._5, r._6)).toMap
      assert(got == want)
      // the first event of every key is kept; suppression does occur
      assert(flags.values.exists(!_.kept), "cooldown never fired")
    } finally q.stop()
  }

  test("streamingCountMin: state IS the sketch — replay across " +
    "arbitrary batch splits == batch t12, ≤ 64 state keys") {
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.sources.Tables(spark, sf("sf0.001"), "documents")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect()
    val mem = MemoryStream[(Long, String)]
    val df = mem.toDF().toDF("doc_id", "text")
    val q = Streams.streamingCountMin(df)
      .writeStream.format("memory").queryName("cmsketch")
      .outputMode(OutputMode.Complete()).start()
    val streamed = try {
      val (b1, rest) = docs.splitAt(13)
      val (b2, b3) = rest.splitAt(211)
      Seq(b1, b2, b3).foreach { b =>
        mem.addData(b.toSeq: _*); q.processAllAvailable()
      }
      spark.table("cmsketch").collect()
    } finally q.stop()
    // the whole maintained aggregate fits the declared 4×16 sketch
    assert(streamed.nonEmpty && streamed.length <= 64,
      s"sketch state has ${streamed.length} keys")
    val batch = Queries.t12_countmin_pure(spark, sf("sf0.001"))
      .collect()
    assert(streamed.map(_.toString).sorted.toSeq ==
      batch.map(_.toString).sorted.toSeq,
      "replayed streaming sketch differs from batch t12 cells")
  }

  test("streamingClassify == batch scorer == t25 n_correct " +
    "(train batch, serve stream)") {
    implicit val sqlCtx = spark.sqlContext
    val dir = sf("sf0.001")
    val w = Queries.t24_nb_train(spark, dir).collect()
    val weights = w.filter(_.getAs[Long]("feature_id") >= 0)
      .map(r => r.getAs[Long]("feature_id") ->
        r.getAs[Long]("w_micro")).toMap
    val prior = w.find(_.getAs[Long]("feature_id") == -1L)
      .get.getAs[Long]("w_micro")
    val docsDf = graft.sources.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"),
        (col("n_chars") >= 300).cast("int").as("y"))
    val docs = docsDf.as[(Long, String, Int)].collect()
    val mem = MemoryStream[(Long, String, Int)]
    val df = mem.toDF().toDF("doc_id", "text", "y")
    val q = Streams.streamingClassify(df, weights, prior)
      .writeStream.format("memory").queryName("nbserve")
      .outputMode(OutputMode.Append()).start()
    val streamed = try {
      val (b1, b2) = docs.splitAt(41)
      Seq(b1, b2).foreach { b =>
        mem.addData(b.toSeq: _*); q.processAllAvailable()
      }
      spark.table("nbserve").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("score_micro"), r.getAs[Int]("pred"))).toMap
    } finally q.stop()
    // identical scorer applied batch-side
    val batch = Streams.streamingClassify(docsDf, weights, prior)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("score_micro"), r.getAs[Int]("pred"))).toMap
    assert(streamed.nonEmpty && streamed == batch)
    // and the serve-path accuracy reproduces t25's committed row
    val yMap = docs.map(d => d._1 -> d._3).toMap
    val nCorrect = streamed.count { case (id, (_, p)) => p == yMap(id) }
    val t25 = Queries.t25_nb_eval(spark, dir).collect().head
    assert(nCorrect.toLong == t25.getAs[Long]("n_correct"),
      s"serve-path correct $nCorrect != t25 ${t25.getAs[Long]("n_correct")}")
  }

  test("streamingSourceDrift: state IS t26's cell table — replay " +
    "across arbitrary batch splits == batch cells, bounded keys") {
    implicit val sqlCtx = spark.sqlContext
    val dir = sf("sf0.001")
    val docsDf = graft.sources.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val docs = docsDf.as[(Long, String, String)].collect()
    val mem = MemoryStream[(Long, String, String)]
    val df = mem.toDF().toDF("doc_id", "source", "text")
    val q = Streams.streamingSourceDrift(df)
      .writeStream.format("memory").queryName("driftcells")
      .outputMode(OutputMode.Complete()).start()
    val streamed = try {
      val (b1, rest) = docs.splitAt(7)
      val (b2, b3) = rest.splitAt(101)
      Seq(b1, b2, b3).foreach { b =>
        mem.addData(b.toSeq: _*); q.processAllAvailable()
      }
      spark.table("driftcells").collect()
    } finally q.stop()
    val nSources = docs.map(_._2).distinct.length
    assert(streamed.nonEmpty && streamed.length <= nSources * 64,
      s"cell state has ${streamed.length} keys > ${nSources * 64}")
    // the batch twin's first stage, identically derived
    import org.apache.spark.sql.functions.{explode, count, lit}
    val batch = docsDf
      .select(col("source"), explode(
        graft.text.TextFunctions.tokens(col("text"))).as("tok"))
      .select(col("source"),
        graft.text.TextFunctions.hashBucket(col("tok"), 64).as("b"))
      .groupBy("source", "b").agg(count(lit(1)).as("c"))
      .collect()
    assert(streamed.map(_.toString).sorted.toSeq ==
      batch.map(_.toString).sorted.toSeq,
      "replayed streaming cell table differs from batch t26 cells")
  }

  test("streamingGatedMonitor: classify gate -> both monitor cell " +
    "tables chained as ONE query == sequential batch, bounded keys") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{array, count, explode,
      lit, lower}
    val dir = sf("sf0.001")
    // train batch (t24), serve the composition on the stream
    val w = Queries.t24_nb_train(spark, dir).collect()
    val weights = w.filter(_.getAs[Long]("feature_id") >= 0)
      .map(r => r.getAs[Long]("feature_id") ->
        r.getAs[Long]("w_micro")).toMap
    val prior = w.find(_.getAs[Long]("feature_id") == -1L)
      .get.getAs[Long]("w_micro")
    val docsDf = graft.sources.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val docs = docsDf.as[(Long, String, String)].collect()
    val mem = MemoryStream[(Long, String, String)]
    val df = mem.toDF().toDF("doc_id", "source", "text")
    val q = Streams.streamingGatedMonitor(df, weights, prior)
      .writeStream.format("memory").queryName("gatedmon")
      .outputMode(OutputMode.Complete()).start()
    val streamed = try {
      val (b1, rest) = docs.splitAt(19)
      val (b2, b3) = rest.splitAt(173)
      Seq(b1, b2, b3).foreach { b =>
        mem.addData(b.toSeq: _*); q.processAllAvailable()
      }
      spark.table("gatedmon").collect()
    } finally q.stop()
    // state bound: both sketches together
    val nSources = docs.map(_._2).distinct.length
    assert(streamed.nonEmpty &&
      streamed.length <= nSources * 64 + 4 * 16,
      s"cell state has ${streamed.length} keys")
    // sequential batch composition: batch-score -> filter -> the
    // twins' own cell derivations, tagged identically
    val gated = docsDf.filter(
      Streams.nbScoreCol(col("text"), weights, prior) >= 0L)
    val driftB = gated
      .select(col("source"), explode(
        graft.text.TextFunctions.tokens(col("text"))).as("tok"))
      .select(lit("drift").as("kind"), col("source").as("k1"),
        graft.text.TextFunctions.hashBucket(col("tok"), 64)
          .cast("string").as("k2"))
    val cmB = gated
      .select(explode(graft.text.TextFunctions.tokens(
        lower(col("text")))).as("tok"))
      .select(col("tok"),
        explode(array((0 until 4).map(lit(_)): _*)).as("r"))
      .select(lit("cm").as("kind"), col("r").cast("string").as("k1"),
        graft.text.TextFunctions.countMinCell(col("r"), col("tok"), 16)
          .cast("string").as("k2"))
    val batch = driftB.unionByName(cmB).groupBy("kind", "k1", "k2")
      .agg(count(lit(1)).as("c")).collect()
    assert(streamed.map(_.toString).sorted.toSeq ==
      batch.map(_.toString).sorted.toSeq,
      "chained streaming composition differs from sequential batch")
    // the gate is live: some documents rejected, some admitted
    val nGated = gated.count()
    assert(nGated > 0 && nGated < docs.length,
      s"gate admits $nGated of ${docs.length} — vacuous")
  }

  test("streamingFrameEnergy == batch m04 composition on identical " +
    "payloads (real WAV + text arms, split-independent)") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, count, expr, floor,
      lit, max, sqrt, sum, when}
    val dir = sf("sf0.001")
    // build the SAME payload mix batch m04 constructs, driver-side:
    // ids ≡ 1 mod 4 -> mono 16-bit PCM WAV with planted varying
    // samples, ids ≡ 3 mod 4 -> G.711 telephony WAVs (A-law/μ-law),
    // even ids -> raw text bytes
    def le(v: Long, n: Int): Array[Byte] =
      (0 until n).map(i => ((v >> (8 * i)) & 0xff).toByte).toArray
    def wavBytes(id: Long, nSamples: Int): Array[Byte] = {
      val rate = 8000L + (id % 5) * 1000L
      val data = (0 until nSamples).flatMap { k =>
        val s = ((id * 31 + k * 7) % 997 - 498).toInt
        le(s & 0xffffL, 2)
      }.toArray
      "RIFF".getBytes ++ le(data.length + 36L, 4) ++
        "WAVE".getBytes ++ "fmt ".getBytes ++ le(16L, 4) ++
        le(1L, 2) ++ le(1L, 2) ++ le(rate, 4) ++ le(rate * 2, 4) ++
        le(2L, 2) ++ le(16L, 2) ++
        "data".getBytes ++ le(data.length.toLong, 4) ++ data
    }
    def g711Bytes(id: Long, nSamples: Int): Array[Byte] = {
      val rate = 8000L + (id % 5) * 1000L
      val fmtCode = if (id % 8 == 3) 6L else 7L
      val data = (0 until nSamples)
        .map(k => ((id * 13 + k * 11) % 256).toByte).toArray
      // the odd-length pad byte counts toward the RIFF size (strict
      // readers reject a RIFF size that excludes it, silently
      // dropping these docs to the byte-lane fallback)
      val pad =
        if (nSamples % 2 == 1) Array(0.toByte)
        else Array.empty[Byte]
      "RIFF".getBytes ++ le(data.length + pad.length + 36L, 4) ++
        "WAVE".getBytes ++ "fmt ".getBytes ++ le(16L, 4) ++
        le(fmtCode, 2) ++ le(1L, 2) ++ le(rate, 4) ++ le(rate, 4) ++
        le(1L, 2) ++ le(8L, 2) ++
        "data".getBytes ++ le(data.length.toLong, 4) ++ data ++ pad
    }
    val docs = graft.sources.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect()
    val base = 1704067200000L
    val timed = docs.zipWithIndex.map { case ((id, tx), i) =>
      val payload =
        if (id % 4 == 1) wavBytes(id, tx.length)
        else if (id % 4 == 3) g711Bytes(id, tx.length)
        else tx.getBytes("UTF-8")
      (new Timestamp(base + (i / 20) * 60000L + (i % 20) * 1000L),
        id, payload)
    }
    val mem = MemoryStream[(Timestamp, Long, Array[Byte])]
    val df = mem.toDF().toDF("ts", "media_id", "payload")
    val q = Streams.streamingFrameEnergy(df, lateness = "30 seconds")
      .writeStream.format("memory").queryName("fenergy")
      .outputMode(OutputMode.Append()).start()
    val streamed = try {
      val (b1, rest) = timed.splitAt(37)
      val (b2, b3) = rest.splitAt(191)
      Seq(b1, b2, b3).foreach { b =>
        mem.addData(b.toSeq: _*); q.processAllAvailable()
      }
      // one late tick far past every window so the watermark closes
      // them all and Append emits the tail
      mem.addData((new Timestamp(base + 3600L * 1000000L), -1L,
        "zz".getBytes("UTF-8")))
      q.processAllAvailable()
      spark.table("fenergy").filter(col("media_id") >= 0).collect()
        .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    } finally q.stop()
    // the identical batch composition over the same payloads
    def isqrtC(y: org.apache.spark.sql.Column) = {
      val r0 = floor(sqrt(y.cast("double"))).cast("long")
      r0 + when((r0 + 1) * (r0 + 1) <= y, 1L).otherwise(0L) -
        when(r0 * r0 > y, 1L).otherwise(0L)
    }
    val payloadDf = spark.createDataFrame(
      timed.map(t => (t._2, t._3)).toSeq).toDF("media_id", "payload")
    val batch = graft.multimodal.Multimodal
      .extractFrameFeatures(payloadDf)
      .withColumn("frame_rms_milli",
        isqrtC(expr("(1000000 * energy) DIV n_units")))
      .groupBy("media_id", "mime")
      .agg(count(lit(1)).as("n_frames"),
        sum(when(col("frame_rms_milli") < 100000L, 1L)
          .otherwise(0L)).as("n_silent"),
        max("energy").as("max_energy"),
        sum("energy").as("total_energy"),
        sum("n_units").as("total_units"))
      .withColumn("rms_milli",
        isqrtC(expr(
          "(CAST(total_energy AS DECIMAL(38,0)) * 1000000)" +
            " DIV total_units")))
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    assert(streamed.nonEmpty && streamed == batch)
    // all three arms live: PCM and G.711 media decode as audio (the
    // G.711 ids must NOT fall to the byte-window arm), text stays on
    // byte windows
    assert(streamed.exists { case (id, v) =>
      id % 4 == 1 && v.head == "audio/wav" })
    assert(streamed.exists { case (id, v) =>
      id % 4 == 3 && v.head == "audio/wav" })
    assert(streamed.values.exists(_.head == "application/octet-stream"))
  }

  test("streamingTargetLm == batch t27 per-doc rows (train batch, " +
    "serve stream, split-independent)") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val dir = sf("sf0.001")
    val (triLp, biLp, lpFloor) = Queries.targetLmModel(
      graft.sources.Tables(spark, dir, "documents")
        .filter(col("source") === "src0").select(col("doc_id"), col("text")))
    // the static model tables must be concrete relations for the
    // stream-static join (and we don't want the stream re-running
    // the trainer per micro-batch) — materialize them once
    val triM = triLp.collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1))).toDF("tri", "lp_seen")
    val biM = biLp.collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1))).toDF("bi", "lp_bi")
    // replay the corpus with synthetic event times spread over
    // minutes (20 docs per minute) so several windows are in flight
    val docs = graft.sources.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect()
    val base = 1704067200000L
    val timed = docs.zipWithIndex.map { case ((id, tx), i) =>
      (new Timestamp(base + (i / 20) * 60000L + (i % 20) * 1000L),
        id, tx)
    }
    val mem = MemoryStream[(Timestamp, Long, String)]
    val df = mem.toDF().toDF("ts", "doc_id", "text")
    val q = Streams.streamingTargetLm(df, triM, biM, lpFloor)
      .writeStream.format("memory").queryName("tlmserve")
      .outputMode(OutputMode.Append()).start()
    val streamed = try {
      val (b1, rest) = timed.splitAt(29)
      val (b2, b3) = rest.splitAt(113)
      Seq(b1, b2, b3).foreach { b =>
        mem.addData(b.toSeq: _*); q.processAllAvailable()
      }
      // sentinel an hour later flushes every in-flight window
      mem.addData((new Timestamp(timed.last._1.getTime + 3600000L),
        999999L, "zzz"))
      q.processAllAvailable()
      spark.table("tlmserve").filter(col("doc_id") =!= 999999L)
        .collect().map(_.toString).sorted.toSeq
    } finally q.stop()
    val batch = Queries.t27_target_lm(spark, dir)
      .select("doc_id", "n_tris", "n_unseen", "sum_lp_micro")
      .collect().map(_.toString).sorted.toSeq
    assert(streamed.nonEmpty && streamed == batch,
      "streamed per-doc LM rows differ from batch t27")
  }

  /** The Round14OpsSpec strict-ES contract, restated here so the
    * streaming pin can't drift from the batch one: insert grounds
    * both fields, update coalesces onto EXISTING state only, delete
    * removes. */
  private def replayOps(log: Seq[(Long, Long, String, Option[Long],
    Option[Long])]): Map[Long, (Option[Long], Option[Long])] = {
    val st = scala.collection.mutable.Map
      .empty[Long, (Option[Long], Option[Long])]
    log.sortBy(r => (r._1, r._2)).foreach {
      case (uid, _, "insert", n, sv) => st(uid) = (n, sv)
      case (uid, _, "delete", _, _) => st.remove(uid)
      case (uid, _, "update", n, sv) =>
        st.get(uid).foreach { case (n0, s0) =>
          st(uid) = (n.orElse(n0), sv.orElse(s0))
        }
      case other => fail(s"bad op $other")
    }
    st.toMap
  }

  test("streamingApplyOps: the maintained snapshot == the strict-ES " +
    "sequential replay at EVERY batch boundary (shared compactOps/" +
    "applyOps bodies over the real derived log, three uneven " +
    "batches)") {
    implicit val sqlCtx = spark.sqlContext
    // the q68 fixture log at sf0.001, replayed in seq order (the
    // declared CDC delivery contract: per-key seq nondecreasing
    // across batches; a global seq sort satisfies it)
    val log = Queries.compactOpLog(spark, sf("sf0.001"))
      .as[(Long, Long, String, Option[Long], Option[Long])]
      .collect().sortBy(_._2).toSeq
    val m = Streams.streamingApplyOps(spark)
    val mem = MemoryStream[(Long, Long, String, Option[Long],
      Option[Long])]
    val src = mem.toDF()
      .toDF("user_id", "seq", "op", "n_new", "s_new")
    val q = src.writeStream
      .foreachBatch((b: org.apache.spark.sql.Dataset[
        org.apache.spark.sql.Row], id: Long) => m.foldBatch(b, id))
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("graft-cdc").toString)
      .start()
    try {
      val (b1, rest) = log.splitAt(211)
      val (b2, b3) = rest.splitAt(577)
      var prefix = Seq.empty[(Long, Long, String, Option[Long],
        Option[Long])]
      Seq(b1, b2, b3).foreach { b =>
        mem.addData(b: _*); q.processAllAvailable()
        prefix ++= b
        val got = m.current.collect().map { r =>
          r.getLong(0) -> ((
            Option(r.get(1)).map(_.asInstanceOf[Long]),
            Option(r.get(2)).map(_.asInstanceOf[Long])))
        }.toMap
        assert(got == replayOps(prefix),
          s"snapshot diverged after ${prefix.size} ops")
      }
      assert(m.current.count() > 0)
    } finally q.stop()
  }

  test("streamingApplyOps hostile batch split: a post-delete update " +
    "arriving in a LATER batch is the declared no-op, reinsert " +
    "regrounds, update-only keys never materialize") {
    implicit val sqlCtx = spark.sqlContext
    val m = Streams.streamingApplyOps(spark)
    val mem = MemoryStream[(Long, Long, String, Option[Long],
      Option[Long])]
    val src = mem.toDF()
      .toDF("user_id", "seq", "op", "n_new", "s_new")
    val q = src.writeStream
      .foreachBatch((b: org.apache.spark.sql.Dataset[
        org.apache.spark.sql.Row], id: Long) => m.foldBatch(b, id))
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("graft-cdc2").toString)
      .start()
    def snap(): Map[Long, (Option[Long], Option[Long])] =
      m.current.collect().map { r =>
        r.getLong(0) -> ((
          Option(r.get(1)).map(_.asInstanceOf[Long]),
          Option(r.get(2)).map(_.asInstanceOf[Long])))
      }.toMap
    try {
      // batch 1 ends on a delete for key 1; key 3 is update-only
      mem.addData(
        (1L, 1L, "insert", Some(10L), Some(20L)),
        (1L, 2L, "update", Some(11L), None),
        (1L, 3L, "delete", None, None),
        (3L, 1L, "update", Some(7L), None))
      q.processAllAvailable()
      assert(snap() == Map.empty)
      // batch 2 opens with the post-delete update (the split the
      // within-batch compaction can't see) — must be a no-op;
      // then a reinsert regrounds and a partial update lands on it
      mem.addData(
        (1L, 4L, "update", Some(99L), Some(99L)),
        (3L, 2L, "update", None, Some(8L)))
      q.processAllAvailable()
      assert(snap() == Map.empty, "post-delete update materialized")
      mem.addData(
        (1L, 5L, "insert", Some(30L), Some(40L)),
        (1L, 6L, "update", None, Some(41L)))
      q.processAllAvailable()
      assert(snap() == Map(1L -> ((Some(30L), Some(41L)))))
    } finally q.stop()
  }

  test("streamingLateness: per-user running-max lateness with one " +
    "long of state; arrival-window profile == hand replay across " +
    "batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.ArrEvent]
    val q = Streams.streamingLateness(mem.toDS(),
        windowLen = "10 minutes", lateness = "5 minutes")
      .writeStream.format("memory").queryName("slate")
      .outputMode(OutputMode.Append()).start()
    // user 1: on-time, then 2-min-late (same batch), then 1-min-late
    // (NEXT batch -- the running max must cross the boundary), then
    // on-time advancing the max; user 2 proves per-user isolation
    // (its first event is never late against user 1's max)
    val b1 = Seq(
      Streams.ArrEvent(1L, 1L, ts(10), ts(10).getTime),
      Streams.ArrEvent(1L, 2L, ts(8), ts(11).getTime))
    val b2 = Seq(
      Streams.ArrEvent(1L, 3L, ts(9), ts(12).getTime),
      Streams.ArrEvent(1L, 4L, ts(20), ts(13).getTime),
      Streams.ArrEvent(2L, 5L, ts(5), ts(14).getTime))
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      // arrival minute 40: watermark (35) passes the [10, 20) window
      mem.addData(Streams.ArrEvent(99L, 9L, ts(40), ts(40).getTime))
      q.processAllAvailable()
      val got = spark.table("slate")
        .as[(Timestamp, Long, Long, Long, Long, Long, Long, Long)]
        .collect().toSet
      // [10, 20): 5 events, lates 0 / 120000 / 60000 / 0 / 0 ms ->
      // n_late at delay 0 is 2, every larger candidate 0
      assert(got == Set((ts(10), 5L, 120000L, 2L, 0L, 0L, 0L, 0L)))
    } finally q.stop()
  }
}
