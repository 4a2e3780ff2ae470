package perfbench

import java.sql.Timestamp
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener,
  StreamingQueryProgress, Trigger}
import graft.streaming.Streams

/** One feed event. `ts` is the event's due time. */
final case class FeedRow(seq: Long, due_ms: Long, ts: Timestamp, user_id: Long,
                         op: String, n_new: Option[Long], s_new: Option[Long],
                         dup_key: Long, text: String)

/** Seeded event feed, generated in order. Ops are well formed per key
  * (insert only when absent, update and delete only when live), 20% of
  * dedup keys repeat a key from the previous 200 events, and 5% of docs
  * copy the doc 250 events back with " dup" appended. Docs have 8-16
  * words from a 5000-word vocabulary. */
final class Feed(seed: Long) {
  private val live = mutable.HashSet[Long]()
  private var next = 0L

  private def h(i: Long, salt: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L + salt
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def mod(i: Long, salt: Long, n: Long) = java.lang.Math.floorMod(h(i, salt), n)

  private def baseText(i: Long): String =
    (0L until 8 + mod(i, 9, 9)).map(j => "w" + mod(i * 64 + j, 10, 5000))
      .mkString(" ")

  def take(n: Int)(dueMs: Long => Long): Seq[FeedRow] = (0 until n).map { _ =>
    val i = next
    next += 1
    val u = mod(i, 1, 1000)
    val r = mod(i, 2, 100)
    val (op, nn, sn) =
      if (!live(u)) { live += u; ("insert", Some(mod(i, 3, 1000)), Some(mod(i, 4, 100000))) }
      else if (r < 15) { live -= u; ("delete", None, None) }
      else ("update", if (r < 60) Some(mod(i, 3, 1000)) else None,
        if (r >= 40) Some(mod(i, 4, 100000)) else None)
    val key = if (mod(i, 5, 5) == 0) math.max(0L, i - 1 - mod(i, 6, 200)) else i
    val text = if (i >= 250 && mod(i, 7, 20) == 0) baseText(i - 250) + " dup"
      else baseText(i)
    val due = dueMs(i)
    FeedRow(i, due, new Timestamp(due), u, op, nn, sn, key, text)
  }
}

/** The stream workload: one seeded feed drives snapshot_apply,
  * stream_dedup and near_dup_signal concurrently.
  *
  * All phases run on one set of queries, in order:
  *
  *  1. Replay (untimed; set-up ends here): the first [[ReplayRows]]
  *     events in 200-row micro-batches (a near-dup never shares one
  *     with its source). This also takes every query past its first
  *     batches.
  *  2. Open loop at a fixed `rate` for 75% of the run length: every
  *     10 ms the feed adds the events that are due; latency is a
  *     batch's commit time minus the due time of the newest event in it.
  *  3. Capacity passes for the remaining 25% (at least two): each adds
  *     exactly [[CapacityRows]] events in one call and is timed until
  *     every pipeline has processed them.
  *  4. Check (untimed): two far-future events close every window, then
  *     each pipeline's output for the replayed events is compared with
  *     its batch reference over the same events. */
object StreamRun {
  val Lateness = "30 seconds"
  val Names = Seq("snapshot_apply", "stream_dedup", "near_dup_signal")
  /** Events per capacity pass: enough that per-row work, not the fixed
    * cost of a micro-batch, sets the pass time. */
  val CapacityRows = 1000
  /** Replayed events: past 250, so near-duplicates (which copy the doc
    * 250 events back) are exercised. */
  val ReplayRows = 400

  def apply(spark: SparkSession, a: Map[String, String], out: String,
            cores: Int): Map[String, Any] = {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val seed = a("seed").toLong
    val rate = a("rate").toDouble
    val seconds = a("seconds").toDouble
    val chunk = 200
    var runNo = 0

    def pipelines(feed: DataFrame): Map[String, DataFrame] = {
      val f = feed.observe("feed", max(col("due_ms")).as("max_due"),
        count(lit(1)).as("rows"))
      Map(
        "snapshot_apply" -> Streams.streamingSnapshotApply(
          f.select("seq", "user_id", "op", "n_new", "s_new").as[Streams.SnapOp]).toDF(),
        "stream_dedup" -> Streams.streamDedup(
          f.select("ts", "seq", "dup_key"), "ts", Lateness, "dup_key"),
        "near_dup_signal" -> Streams.streamingNearDupSignal(
          f.select(col("ts"), col("seq").as("doc_id"), col("text")), Lateness))
    }

    /** Starts the three pipelines, each on its own copy of the feed (a
      * MemoryStream serves one query) and each into a memory sink the
      * check reads; `add` appends to all copies. */
    final class Running {
      runNo += 1
      private val mems = Names.map(_ => MemoryStream[FeedRow](cores))
      val qs: Seq[StreamingQuery] = mems.zip(Names).map { case (mem, name) =>
        pipelines(mem.toDF())(name).writeStream.queryName(s"${name}_$runNo")
          .format("memory").outputMode("append")
          .option("checkpointLocation", s"$out/checkpoints/$runNo/$name")
          .trigger(Trigger.ProcessingTime(0)).start()
      }
      def add(rows: Seq[FeedRow]): Unit = mems.foreach(_.addData(rows))
      /** Events every pipeline has processed; fails if one died. */
      def processed: Long = qs.map { q =>
        q.exception.foreach(e => throw e)
        q.recentProgress.map(_.numInputRows).sum
      }.min
      def stop(): Unit = qs.foreach(_.stop())
    }

    val heap = mutable.ArrayBuffer[Double]()
    var setupS = 0.0

    /** One cycle on one set of queries: replay, open loop, capacity
      * passes, then (when `check`) the replay's outputs against their
      * batch references. Returns the capacity pass times, the latency
      * samples, the backlog samples and the check verdicts. */
    def cycle(budget: Double, check: Boolean)
      : (Seq[Double], Seq[Double], Seq[Long], Map[String, String]) = {
      val feed = new Feed(seed)
      val run = new Running
      def drain(n: Long): Unit = while (run.processed < n) Thread.sleep(2)
      var added = 0L
      def add(rows: Seq[FeedRow]): Unit = { run.add(rows); added += rows.size }

      // 1. replay: the first ReplayRows events in chunk-sized batches
      val base = System.currentTimeMillis()
      val replayed = mutable.ArrayBuffer[FeedRow]()
      while (replayed.size < ReplayRows) {
        val rows = feed.take(math.min(chunk, ReplayRows - replayed.size))(
          i => base + (i * 1000 / rate).toLong)
        replayed ++= rows
        add(rows)
        drain(added)
      }
      if (setupS == 0.0) setupS = Main.sinceStart
      Main.mark("replay done")

      // 2. open loop: every 10 ms the events due by then
      val before = run.qs.map(_.recentProgress.length)
      val backlog = mutable.ArrayBuffer[Long]()
      val t0 = System.currentTimeMillis()
      val end = t0 + (budget * 0.75 * 1000).toLong
      val first = added
      while (System.currentTimeMillis() < end) {
        val due = first + ((System.currentTimeMillis() - t0) * rate / 1000).toLong
        if (due > added)
          add(feed.take((due - added).toInt)(i => t0 + ((i - first) * 1000 / rate).toLong))
        backlog += added - run.processed
        Thread.sleep(10)
      }
      drain(added)
      val lat = run.qs.zip(before).flatMap { case (q, n) =>
        q.recentProgress.drop(n).flatMap(latency) }

      // 3. capacity: CapacityRows events at once (due when added), timed
      // until every pipeline has processed them; at least two passes
      val caps = mutable.ArrayBuffer[Double]()
      val capEnd = System.nanoTime() + (budget * 0.25 * 1e9).toLong
      while (caps.size < 2 || System.nanoTime() < capEnd) {
        heap += JvmCounters.heapUsedAfterGcMb
        val now = System.currentTimeMillis()
        val rows = feed.take(CapacityRows)(_ => now)
        val c0 = System.nanoTime()
        add(rows)
        drain(added)
        caps += (System.nanoTime() - c0) / 1e9
      }
      Main.mark("capacity passes done")

      // two far-future docs: the first moves the watermark past every
      // window, the batch of the second emits them; both are excluded
      val verdicts = if (check) {
        for (h <- 1 to 2) {
          val t = System.currentTimeMillis() + h * 3600000L
          run.add(Seq(FeedRow(-h, t, new Timestamp(t), -1L, "insert", Some(0L),
            Some(0L), -1L, "closing doc past every window")))
          run.qs.foreach(_.processAllAvailable())
        }
        checkReplay(spark, replayed.toSeq, run.qs.map(q => spark.table(q.name)))
      } else Map.empty[String, String]
      run.stop()
      (caps.toSeq, lat, backlog.toSeq, verdicts)
    }

    val (caps, lat, backlog, check) = cycle(seconds, check = true)
    val traced = if (a("trace") == "1") {
      val tr = new Tracer(spark.sparkContext)
      val progress = mutable.ArrayBuffer[StreamingQueryProgress]()
      val runSpan = tr.newId()
      val t0 = tr.nowMs
      // task counters per pipeline, summed over its runs
      val stats = mutable.ArrayBuffer[(String, PhaseStats)]()
      val listener = new StreamingQueryListener {
        def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
          stats.synchronized {
            stats += Names.find(n => e.name.startsWith(n)).get ->
              tr.watch(e.runId.toString, runSpan)
          }
        def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
          progress.synchronized { progress += e.progress }
        def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      }
      spark.sparkContext.addSparkListener(tr)
      spark.streams.addListener(listener)
      val (tcaps, tlat, tbacklog, _) = cycle(seconds, check = false)
      tr.drain()
      spark.streams.removeListener(listener)
      val prog = progress.synchronized(progress.toSeq)
      prog.foreach { p =>
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        tr.span(runSpan, "batch", s"${p.name}#${p.batchId}", start,
          start + p.durationMs.asScala.getOrElse("triggerExecution", 0L: java.lang.Long).toDouble)
      }
      tr.span(0L, "run", "traced", t0, tr.nowMs, runSpan)
      Json.writeSpans(s"$out/spans.jsonl", tr.spans.toSeq)
      Map("capacity_s" -> tcaps, "latency_ms" -> tlat, "backlog_rows" -> tbacklog,
        "progress" -> prog.map(progressJson),
        "tasks" -> stats.toSeq.map { case (n, st) => st.json + ("pipeline" -> n) })
    } else null
    Map("kind" -> "stream", "setup_s" -> setupS, "check" -> check,
      "capacity_rows" -> CapacityRows, "capacity_s" -> caps, "latency_ms" -> lat,
      "backlog_rows" -> backlog, "heap_after_gc_mb" -> heap.toSeq,
      "traced" -> traced)
  }

  /** Commit time minus the due time of the batch's newest event. */
  private def latency(p: StreamingQueryProgress): Option[Double] =
    Option(p.observedMetrics.get("feed")).filter(r => r.getLong(1) > 0).map { r =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val commit = start + p.durationMs.get("triggerExecution").longValue
      (commit - r.getLong(0)).toDouble
    }

  private def progressJson(p: StreamingQueryProgress): Map[String, Any] = Map(
    "name" -> p.name, "rows" -> p.numInputRows,
    "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue },
    "state" -> p.stateOperators.toSeq.map(s => Map(
      "rows" -> s.numRowsTotal, "updated" -> s.numRowsUpdated,
      "bytes" -> s.memoryUsedBytes, "commit_ms" -> s.commitTimeMs,
      "dropped_late" -> s.numRowsDroppedByWatermark)))

  /** Each pipeline's output for the replayed events (the first
    * `rows.size` of the feed; later events cannot change it) against
    * its batch reference over the same events: the snapshot against one batch fold of the whole op
    * log (`Streams.streamingApplyOps`), the dedup against
    * `dropDuplicates`, and the near-dup signal against a batch pass that
    * keeps each LSH band for the first doc (lowest seq) that has it. */
  private def checkReplay(spark: SparkSession, rows: Seq[FeedRow],
                          got: Seq[DataFrame]): Map[String, String] = {
    import spark.implicits._
    val feed = rows.toDF()
    val Seq(snapOut, dedupOut, nearOut) = got
    def verdict[T](name: String)(sides: => (Set[T], Set[T], Boolean)) =
      name -> (try {
        val (streamed, batch, exercised) = sides
        if (streamed == batch && exercised) "ok"
        else s"mismatch: ${streamed.size} streamed vs ${batch.size} batch rows, " +
          s"${(streamed diff batch).size} only streamed, exercised=$exercised"
      } catch { case t: Throwable => Main.errText(t) })

    val snap = verdict("snapshot_apply") {
      val last = snapOut.filter($"user_id" =!= -1L && $"seq" < rows.size)
        .as[Streams.SnapOut].collect().groupBy(_.user_id)
        .map { case (u, os) => u -> os.maxBy(_.seq) }
      val streamed = last.collect { case (u, o) if o.live =>
        (u, o.n_events, o.sum_cents) }.toSet
      val m = Streams.streamingApplyOps(spark)
      m.foldBatch(feed.select("user_id", "seq", "op", "n_new", "s_new"), 0L)
      val batch = m.current.as[(Long, Long, Long)].collect().toSet
      (streamed, batch, batch.nonEmpty)
    }
    val dedup = verdict("stream_dedup") {
      val streamed = dedupOut.filter($"dup_key" =!= -1L && $"seq" < rows.size)
        .select("dup_key").as[Long].collect()
      val batch = feed.dropDuplicates("dup_key").select("dup_key").as[Long]
        .collect().toSet
      (streamed.toSet, batch, streamed.length == batch.size && batch.size < rows.size)
    }
    val near = verdict("near_dup_signal") {
      val streamed = nearOut.filter($"doc_id" >= 0L && $"doc_id" < rows.size).select("doc_id", "novel_bands")
        .as[(Long, Long)].collect().toSet
      val text = col("text")
      val toks = graft.text.TextFunctions.tokens(text)
      val sig = graft.dedup.Dedup.minhashSignature(
        array_distinct(graft.text.TextFunctions.wordShingles(text, 3)), 12)
      val batch = feed.filter(size(toks) >= 3)
        .select(col("seq").as("doc_id"),
          explode(graft.dedup.Dedup.lshBandKeys(sig, 4, 3)).as("band"))
        .withColumn("first", min("doc_id").over(Window.partitionBy("band")))
        .filter(col("doc_id") === col("first"))
        .groupBy("doc_id").agg(count(lit(1)).as("novel_bands"))
        .as[(Long, Long)].collect().toSet
      (streamed, batch, batch.toSeq.map(_._2).sum < 4L * rows.size)
    }
    Map(snap, dedup, near)
  }
}
