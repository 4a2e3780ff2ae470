package graft.tools

import graft.streaming.Streams
import org.apache.spark.sql.functions._

/** Streaming throughput probe: drives the watermarked operators with
  * the built-in `rate-micro-batch` source (deterministic row counts
  * per batch) and reports rows/second sustained through each pipeline.
  * `runMain graft.tools.StreamBench [rowsPerBatch] [batches] [provider]
  * [keys]` where provider is `hdfs` (default in-memory/HDFS-backed
  * store) or `rocksdb` (RocksDBStateStoreProvider — the store a
  * long-running production job wants: state lives off-heap/on-disk,
  * so multi-GB keyed state can't pressure the executor heap; the
  * trade is per-batch commit overhead, which this tool measures
  * rather than asserts). `keys` (default 1000) sets the keyed
  * cardinality: user_id spans [0, keys) and the dedup key space is
  * 10 × keys — pass 100000 to measure the stores at 1M+ live state
  * keys, where the in-heap store's per-commit map copy is the
  * documented cliff.
  *
  * This is a tool, not part of the driver contract — it exists so
  * streaming perf claims in SURVEY are measured, like Bench does for
  * batch. State stays bounded by construction (watermark windows /
  * one struct per key), so rows/s here extrapolates to a long-running
  * feed rather than degrading as state accumulates.
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val rowsPerBatch = if (args.nonEmpty) args(0).toLong else 200000L
    val batches = if (args.length > 1) args(1).toInt else 10
    // recentProgress is a capped ring buffer (default 100 entries) —
    // beyond that the processed-row sum silently undercounts
    require(batches <= 90, s"batches ($batches) must be <= 90")
    val provider = if (args.length > 2) args(2) else "hdfs"
    val keys = if (args.length > 3) args(3).toLong else 1000L
    // optional 5th arg: only run pipelines whose name contains this
    // substring (local iteration — a full run drives everything)
    val only = if (args.length > 4) args(4) else ""
    val spark = graft.SparkEntry.localSession()
    if (provider == "rocksdb") {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider")
      // changelog checkpointing: per-batch upload = the delta, not a
      // full snapshot — the production setting for frequent triggers
      spark.conf.set("spark.sql.streaming.stateStore.rocksdb." +
        "changelogCheckpointing.enabled", "true")
    }
    spark.sparkContext.setLogLevel("WARN")

    // rate-micro-batch: exactly rowsPerBatch rows per trigger, value
    // is a monotonically increasing Long — derive the events shape
    // advanceMs > 0 makes EVENT time jump that much per batch — the
    // lever that lets a bench run show watermark aging (state
    // plateau) instead of one ever-open window
    def syntheticEvents(advanceMs: Long = 1000L) = spark.readStream
      .format("rate-micro-batch")
      .option("rowsPerBatch", rowsPerBatch)
      .option("advanceMillisPerBatch", advanceMs)
      .load()
      .select(col("value").as("event_id"),
        col("timestamp").as("ts"),
        pmod(col("value"), lit(keys)).as("user_id"),
        element_at(
          array(lit("click"), lit("view"), lit("purchase")),
          (pmod(col("value"), lit(3)) + 1).cast("int")).as("event_type"),
        (pmod(col("value"), lit(97L)) / 10.0).as("value"))

    def drive(name: String, df: org.apache.spark.sql.DataFrame,
              mode: String): Unit = {
      if (!name.contains(only)) return
      val t0 = System.nanoTime()
      val q = df.writeStream
        .format("noop")
        .outputMode(mode)
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("graft-ck").toString)
        .start()
      // poll progress — processAllAvailable never returns for a rate
      // source (there is always a next batch pending)
      var processed = 0L
      val deadline = System.nanoTime() + 300L * 1000000000L
      while (processed < rowsPerBatch * batches &&
        System.nanoTime() < deadline) {
        Thread.sleep(100)
        processed = q.recentProgress.map(_.numInputRows).sum
      }
      // state-store shape from the LAST progress: total state rows
      // and bytes prove (or disprove) the bounded-state claims —
      // a watermarked op's numRowsTotal must plateau, a NoTimeout
      // keyed op's must track distinct keys
      val stateOps = Option(q.lastProgress)
        .map(_.stateOperators.toSeq).getOrElse(Nil)
      val stateRows = stateOps.map(_.numRowsTotal).sum
      val stateBytes = stateOps.map(_.memoryUsedBytes).sum
      q.stop()
      val dt = (System.nanoTime() - t0) / 1e9
      // rate from rows ACTUALLY processed — on deadline expiry the
      // intended row count would overstate throughput
      val rate = (processed / dt).toLong
      println(s"""[streambench] {"pipeline":"$name","provider":"$provider","keys":$keys,"rows":$processed,"sec":${f"$dt%.2f"},"rows_per_sec":$rate,"state_rows":$stateRows,"state_bytes":$stateBytes}""")
    }

    drive("windowed_type_stats",
      Streams.windowedTypeStats(syntheticEvents(), "1 minute",
        "30 seconds"), "update")
    drive("stream_dedup",
      Streams.streamDedup(syntheticEvents()
        .withColumn("dup_key", pmod(col("event_id"), lit(keys * 10))),
        "ts", "30 seconds", "dup_key"), "append")
    // native session_window: one open session struct per ACTIVE user,
    // watermark-aged — the e07 batch form on a live feed
    drive("session_window",
      Streams.sessionWindowStats(syntheticEvents(),
        gap = "5 seconds", lateness = "10 seconds"), "append")
    // keyed mapGroupsWithState: state = k pairs x 1000 users, flat
    locally {
      import spark.implicits._
      drive("streaming_topk",
        Streams.streamingTopK(syntheticEvents()
          .select(col("user_id"), col("event_id").as("item_id"),
            col("value").as("score"))
          .as[Streams.Scored], k = 10).toDF(), "update")
    }
    // constant-size keyed state families: one moment triple / one
    // last-event per user regardless of history length
    locally {
      import spark.implicits._
      drive("online_outliers",
        Streams.streamingOutliers(syntheticEvents()
          .select(col("user_id"), col("event_id"), col("ts"),
            round(col("value") * 100).cast("long").as("cents"))
          .as[Streams.CentEvent]).toDF(), "append")
      drive("transitions",
        Streams.streamingTransitions(syntheticEvents()
          .select(col("user_id"), col("event_id"), col("ts"),
            col("event_type"))
          .as[Streams.TypedEvent]).toDF(), "append")
      // Page-Hinkley drift: four fixed fields per user
      drive("online_drift",
        Streams.streamingDrift(syntheticEvents()
          .select(col("user_id"), col("event_id"), col("ts"),
            round(col("value") * 100).cast("long").as("cents"))
          .as[Streams.CentEvent]).toDF(), "append")
      // per-type PH routing: 3x the key cardinality, same state/key
      drive("online_drift_by_type",
        Streams.streamingDriftByType(syntheticEvents()
          .select(col("user_id"), col("event_id"), col("ts"),
            col("event_type"),
            round(col("value") * 100).cast("long").as("cents"))
          .as[Streams.TypedCentEvent],
          Map("purchase" -> (50.0, 2000.0),
            "click" -> (80.0, 8000.0))).toDF(), "append")
    }
    // snapshot maintenance: state = the live snapshot row per key
    // (insert/update/delete fold; here events synthesize an op mix —
    // 1-in-11 delete, 1-in-7 partial update, rest upsert)
    locally {
      import spark.implicits._
      drive("snapshot_apply",
        Streams.streamingSnapshotApply(syntheticEvents()
          .select(col("event_id").as("seq"), col("user_id"),
            when(pmod(col("event_id"), lit(11)) === 0, "delete")
              .when(pmod(col("event_id"), lit(7)) === 0, "update")
              .otherwise("insert").as("op"),
            when(pmod(col("event_id"), lit(7)) =!= 0,
              col("event_id")).as("n_new"),
            when(pmod(col("event_id"), lit(2)) === 0,
              col("event_id") * 2).as("s_new"))
          .as[Streams.SnapOp]).toDF(), "append")
    }
    // CDC apply maintainer: the q67/q68 bodies folded per micro-batch
    // via foreachBatch — state = the maintained snapshot itself (one
    // localCheckpoint'ed copy; superseded blocks released per fold),
    // measured directly off the maintainer since foreachBatch has no
    // engine state operator
    if ("cdc_apply".contains(only)) {
      val m = Streams.streamingApplyOps(spark)
      val ops = syntheticEvents()
        .select(col("user_id"), col("event_id").as("seq"),
          when(pmod(col("event_id"), lit(11)) === 0, "delete")
            .when(pmod(col("event_id"), lit(7)) === 0, "update")
            .otherwise("insert").as("op"),
          when(pmod(col("event_id"), lit(7)) =!= 0,
            col("event_id")).as("n_new"),
          when(pmod(col("event_id"), lit(2)) === 0,
            col("event_id") * 2).as("s_new"))
      val t0 = System.nanoTime()
      val q = ops.writeStream
        .foreachBatch((b: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], id: Long) => m.foldBatch(b, id))
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("graft-ck").toString)
        .start()
      var processed = 0L
      val deadline = System.nanoTime() + 300L * 1000000000L
      while (processed < rowsPerBatch * batches &&
        System.nanoTime() < deadline) {
        Thread.sleep(100)
        processed = q.recentProgress.map(_.numInputRows).sum
      }
      val stateRows = m.current.count()
      q.stop()
      val dt = (System.nanoTime() - t0) / 1e9
      val rate = (processed / dt).toLong
      // 24 B = three BIGINT slots per live snapshot row
      println(s"""[streambench] {"pipeline":"cdc_apply","provider":"$provider","keys":$keys,"rows":$processed,"sec":${f"$dt%.2f"},"rows_per_sec":$rate,"state_rows":$stateRows,"state_bytes":${stateRows * 24}}""")
    }
    // associative OHLC bar fold: one in-flight bar per (type, minute)
    // inside the watermark horizon — e17/e18's algebra on a feed
    // live lateness monitor (e19's streaming twin): one long per
    // user + an arrival-windowed profile — state must plateau at
    // (keys + open windows)
    locally {
      import spark.implicits._
      drive("lateness_profile",
        Streams.streamingLateness(syntheticEvents()
          .select(col("user_id"), col("event_id"), col("ts"),
            (unix_millis(col("ts")) +
              pmod(col("event_id") * 2654435761L, lit(30000L)))
              .as("arrival_ms"))
          .as[Streams.ArrEvent],
          windowLen = "1 minute", lateness = "30 seconds"), "append")
    }
    drive("minute_bars",
      Streams.streamingMinuteBars(syntheticEvents(), "30 seconds"),
      "append")
    // minhash-LSH banding + watermarked band dedup + windowed count:
    // the heaviest per-row stateful pipeline (shingle + md5 x hashes)
    drive("near_dup_signal",
      Streams.streamingNearDupSignal(syntheticEvents()
        .select(col("ts"), col("event_id").as("doc_id"),
          concat_ws(" ",
            (0 until 12).map(i => concat(lit("w"),
              pmod(col("event_id") * (i * 2 + 1), lit(5000L)))): _*)
            .as("text")),
        lateness = "30 seconds"), "update")
    // the chained d17-style impact accounting: band+marker dedup ->
    // per-doc window fold -> window-on-window totals (three stateful
    // ops, all watermark-bounded)
    drive("near_dup_impact",
      Streams.streamingNearDupImpact(syntheticEvents()
        .select(col("ts"), col("event_id").as("doc_id"),
          concat_ws(" ",
            (0 until 12).map(i => concat(lit("w"),
              pmod(col("event_id") * (i * 2 + 1), lit(5000L)))): _*)
            .as("text")),
        lateness = "30 seconds"), "append")
    // count-min maintenance: state = the 4x16 sketch itself (64 keys
    // forever); per-row cost is tokenize + depth md5s, and partial
    // aggregation collapses each batch to <=64 cell deltas
    drive("count_min",
      Streams.streamingCountMin(syntheticEvents()
        .select(concat_ws(" ",
          (0 until 8).map(i => concat(lit("w"),
            pmod(col("event_id") * (i * 2 + 1), lit(200L)))): _*)
          .as("text"))), "update")
    // stateless NB serve gate: per-row score + predict, zero state —
    // the fixed-weight classify pass of the t24/t25 pair on a feed
    drive("nb_classify",
      Streams.streamingClassify(syntheticEvents()
        .select(col("event_id").as("doc_id"),
          concat_ws(" ",
            (0 until 8).map(i => concat(lit("w"),
              pmod(col("event_id") * (i * 2 + 1), lit(200L)))): _*)
            .as("text")),
        (0L until 64L).map(b => b -> (b - 32L) * 1000L).toMap,
        priorMicro = 5000L), "append")
    // media frame-energy ingest: stateless per-partition frame
    // decode (text payloads -> 64-byte windows) + watermark-windowed
    // per-media fold — state = in-flight windows only
    drive("frame_energy",
      Streams.streamingFrameEnergy(syntheticEvents()
        .select(col("ts"), col("event_id").as("media_id"),
          concat_ws(" ",
            (0 until 8).map(i => concat(lit("w"),
              pmod(col("event_id") * (i * 2 + 1), lit(200L)))): _*)
            .cast("binary").as("payload")),
        lateness = "30 seconds"), "append")
    // composed gate->monitors chain as ONE query: stateless NB gate,
    // admitted rows feed BOTH bounded sketches through one tagged
    // Update aggregate (state <= |sources|*64 + 4*16 keys forever)
    drive("gated_monitor",
      Streams.streamingGatedMonitor(syntheticEvents()
        .select(
          concat(lit("src"), pmod(col("event_id"), lit(5L)))
            .as("source"),
          concat_ws(" ",
            (0 until 8).map(i => concat(lit("w"),
              pmod(col("event_id") * (i * 2 + 1), lit(200L)))): _*)
            .as("text")),
        (0L until 64L).map(b => b -> (b - 32L) * 1000L).toMap,
        priorMicro = 5000L), "update")
    // target-LM serve gate: stream-static model joins (stateless) +
    // watermark-windowed per-doc fold — state = in-flight windows
    locally {
      val corpus = spark.range(0, 100000)
        .select(col("id").as("doc_id"),
          concat_ws(" ",
            (0 until 8).map(i => concat(lit("w"),
              pmod(col("id") * (i * 2 + 1), lit(200L)))): _*)
            .as("text"))
      val (tri, bi, lpFloor) = graft.Queries.targetLmModel(corpus)
      val triLp = tri.cache()
      val biLp = bi.cache()
      triLp.count(); biLp.count()
      drive("target_lm",
        Streams.streamingTargetLm(syntheticEvents(advanceMs = 60000L)
          .select(col("ts"), col("event_id").as("doc_id"),
            concat_ws(" ",
              (0 until 8).map(i => concat(lit("w"),
                pmod(col("event_id") * (i * 2 + 1), lit(200L)))): _*)
              .as("text")),
          triLp, biLp, lpFloor, lateness = "30 seconds"), "append")
    }
    // per-source drift cells: state = t26's |sources|x64 table (here
    // 20x64), batches collapse map-side to bounded cell deltas
    drive("source_drift",
      Streams.streamingSourceDrift(syntheticEvents()
        .select(concat(lit("src"), pmod(col("user_id"), lit(20L)))
          .as("source"),
          concat_ws(" ",
            (0 until 8).map(i => concat(lit("w"),
              pmod(col("event_id") * (i * 2 + 1), lit(200L)))): _*)
            .as("text"))), "update")
    spark.stop()
  }
}
