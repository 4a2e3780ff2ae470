package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Core relational operators mirroring the reference pipeline's
  * semantics (see SURVEY.md §2), expressed as composable
  * `DataFrame => DataFrame` transforms so Catalyst sees one logical
  * plan end-to-end (pushdown, pruning, join reorder all apply).
  */
object Relational {

  /** Global top-k with a total order (tiebreak keys make the result
    * deterministic). Spark plans this as TakeOrderedAndProject — no
    * full sort, each partition keeps k rows then the driver merges;
    * safe at any scale for small k.
    * Reference: sorted-categories task, create_collections.py.
    */
  def topK(df: DataFrame, k: Int, order: Column*): DataFrame =
    df.orderBy(order: _*).limit(k)

  /** Per-group top-k via row_number window. One shuffle on the
    * partition keys; rank emitted as BIGINT `rn` to match SQL engines.
    * Reference: research/sort_members (member ordering inside a
    * collection).
    */
  def groupTopK(df: DataFrame, k: Int, partitionBy: Seq[Column],
                order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(partitionBy: _*).orderBy(order: _*)
    df.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
  }

  /** DIVERSIFIED per-group top-k: at most `quota` results per
    * (group, type) before the top-k cut — the reference's related-
    * collections retrieval contract (`max_per_type = 2, "so that
    * first 3 will not be of the same type"` —
    * research/related-collections/precompute-related-collections.py
    * and the evaluate_endpoints API surface). Two row_number
    * windows: the per-type quota rank, then the final rank over
    * survivors; both partitioned, and Spark's WindowGroupLimit
    * pushes each rank's filter below its sort. Emits `tr` (rank
    * within type) and `rn` (final rank), both BIGINT.
    */
  def diversifiedTopK(df: DataFrame, k: Int, quota: Int,
                      groupBy: Seq[Column], typeCol: Column,
                      order: Seq[Column]): DataFrame = {
    val wType = Window.partitionBy((groupBy :+ typeCol): _*)
      .orderBy(order: _*)
    val wAll = Window.partitionBy(groupBy: _*).orderBy(order: _*)
    df.withColumn("tr", row_number().over(wType).cast("long"))
      .filter(col("tr") <= quota)
      .withColumn("rn", row_number().over(wAll).cast("long"))
      .filter(col("rn") <= k)
  }

  /** Snapshot diff: classify keys of `current` vs `previous` into
    * insert / delete / update / noop, like the reference's
    * Elasticsearch update-op generator (update_es.py:249
    * produce_update_operations) — re-expressed as ONE full-outer
    * shuffle join on the key instead of an in-RAM dict diff, so it
    * scales to any snapshot size.
    *
    * `fingerprint` must be a column computed identically on both
    * sides (e.g. a hash of the compared payload).
    */
  def snapshotDiff(previous: DataFrame, current: DataFrame,
                   key: String, fingerprint: String): DataFrame = {
    val p = previous.select(col(key).as("key"),
      col(fingerprint).as("prev_fp"))
    val c = current.select(col(key).as("key"),
      col(fingerprint).as("curr_fp"))
    p.join(c, Seq("key"), "full_outer")
      .withColumn("op",
        when(col("prev_fp").isNull, lit("insert"))
          .when(col("curr_fp").isNull, lit("delete"))
          .when(col("prev_fp") =!= col("curr_fp"), lit("update"))
          .otherwise(lit("noop")))
  }

  /** Skew-resistant equi-join by key salting: the left (large,
    * skewed) side gets a deterministic salt in [0, saltFactor); the
    * right side is replicated once per salt value. The shuffle then
    * spreads each hot key over `saltFactor` reducers instead of one.
    *
    * Use when AQE's runtime skew split isn't available (e.g. the skew
    * is in an aggregation feeding the join) — at 100 TB a single hot
    * key otherwise pins one executor for the whole stage. The salt is
    * derived from stable row content (xxhash64 of all left columns),
    * not rand(), so retries/speculative tasks see identical rows.
    */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
                 saltFactor: Int): DataFrame = {
    val saltedLeft = left.withColumn("graft_salt",
      pmod(xxhash64(left.columns.map(col).toIndexedSeq: _*),
        lit(saltFactor)))
    val saltedRight = right.withColumn("graft_salt",
      explode(sequence(lit(0L), lit(saltFactor.toLong - 1))))
    saltedLeft.join(saltedRight, Seq(key, "graft_salt"))
      .drop("graft_salt")
  }

  /** Global ntile without a single-partition window. Spark's
    * `ntile(n).over(Window.orderBy(...))` funnels EVERY row through one
    * task ("WindowExec: No Partition Defined" — the classic
    * scale-killer); here the same result is computed fully
    * partitioned: range-partition on the sort order, number rows
    * per partition (a partitioned window), lift local row numbers to
    * global ranks via per-partition counts (one tiny row per
    * partition, bounded by `rangeParts`, collected to the driver),
    * then bucket with exact ntile arithmetic (first N%n buckets get
    * the extra row). `order` must be a total order (include a
    * tiebreak) so global ranks are well-defined wherever the range
    * boundaries land.
    *
    * The range-partitioned input stays persisted (the returned lazy
    * frame must see the SAME partition assignment the counts pass
    * saw); callers in long-lived sessions release it after their
    * action via `cacheManager.clearCache()` (Bench/Verify do).
    */
  def globalNtile(df: DataFrame, buckets: Int, rangeParts: Int,
                  bucketCol: String, order: Column*): DataFrame = {
    require(buckets > 0 && rangeParts > 0)
    val parted = df.repartitionByRange(rangeParts, order: _*)
      .withColumn("graft_pid", spark_partition_id())
      .persist(StorageLevel.MEMORY_AND_DISK)
    // one row per range partition — bounded driver state by design
    val counts = parted.groupBy("graft_pid")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("graft_pid").collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    val n = counts.map(_._2).sum
    val offsets: Map[Int, Long] =
      counts.map(_._1).zip(counts.map(_._2).scanLeft(0L)(_ + _)).toMap
    val w = Window.partitionBy("graft_pid").orderBy(order: _*)
    val rn = element_at(typedLit(offsets), col("graft_pid")) +
      row_number().over(w).cast("long")
    // ntile semantics: q = N/n rows per bucket, first r = N%n buckets
    // take one extra. Integer-exact while N < 2^52 (double mantissa).
    val q = n / buckets
    val r = n % buckets
    val cut = (q + 1) * r
    val bucket =
      when(rn <= cut, floor((rn + lit(q)) / lit((q + 1).toDouble)))
        .otherwise(lit(r) +
          floor((rn - cut + lit(math.max(q, 1) - 1)) /
            lit(math.max(q, 1).toDouble)))
    parted.withColumn(bucketCol, bucket.cast("long"))
      .drop("graft_pid")
  }

  /** Scale-safe global exclusive prefix sum of `measure` over a total
    * order — the same range-partition + per-partition-offset shape as
    * [[globalNtile]], so NO single-partition WindowExec appears in the
    * plan. Per-partition partial sums (one row per range partition)
    * are collected to the driver — bounded state by construction —
    * and re-broadcast as literal offsets; the running sum inside each
    * partition is an ordinary partitioned window.
    *
    * Emits `outCol` = sum of `measure` over all STRICTLY PRECEDING
    * rows in the given order (exclusive prefix; the first row gets 0).
    * `measure` must be integral — prefix sums of doubles would depend
    * on partition boundaries.
    */
  def globalRunningSum(df: DataFrame, measure: Column, outCol: String,
                       rangeParts: Int, order: Column*): DataFrame = {
    require(rangeParts > 0)
    val parted = df.repartitionByRange(rangeParts, order: _*)
      .withColumn("graft_pid", spark_partition_id())
      .withColumn("graft_m", measure.cast("long"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sums = parted.groupBy("graft_pid")
      .agg(sum(col("graft_m")).as("s"))
      .orderBy("graft_pid").collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    val offsets: Map[Int, Long] =
      sums.map(_._1).zip(sums.map(_._2).scanLeft(0L)(_ + _)).toMap
    val w = Window.partitionBy("graft_pid").orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cumBefore = element_at(typedLit(offsets), col("graft_pid")) +
      sum(col("graft_m")).over(w) - col("graft_m")
    parted.withColumn(outCol, cumBefore.cast("long"))
      .drop("graft_pid", "graft_m")
  }

  /** Field-wise merge of two keyed snapshots: for every field take the
    * value from the better-ranked (lower `rankCol`) source, falling
    * back to the other source when that value is null — the
    * struct-level "coalesce by rank" merge of the reference's
    * merge_collections (create_merged.py:549). One full-outer shuffle
    * join on the key; per-field logic is pure codegen'd expressions.
    */
  def fieldMergeByRank(a: DataFrame, b: DataFrame, key: String,
                       rankCol: String, fields: Seq[String])
    : DataFrame = {
    val pa = a.select(col(key) +:
      (rankCol +: fields).map(f => col(f).as("a_" + f)): _*)
    val pb = b.select(col(key) +:
      (rankCol +: fields).map(f => col(f).as("b_" + f)): _*)
    val ra = coalesce(col("a_" + rankCol), lit(Long.MaxValue))
    val rb = coalesce(col("b_" + rankCol), lit(Long.MaxValue))
    val merged = fields.map { f =>
      when(ra <= rb, coalesce(col("a_" + f), col("b_" + f)))
        .otherwise(coalesce(col("b_" + f), col("a_" + f))).as(f)
    }
    pa.join(pb, Seq(key), "full_outer")
      .select(col(key) +: merged :+ least(ra, rb).as("src_rank"): _*)
  }

  /** Related-items by co-occurrence: given (containerKey, itemKey)
    * membership pairs, emit container pairs ranked by shared-item
    * count. This is the reference's related-collections precompute
    * (precompute_related.py) done as a distributed self-join on the
    * item key: shuffle on itemKey (the only key that matters), then
    * aggregate pair counts. Containers with huge memberships dominate
    * pair fanout at scale — `maxItemFanout` drops items shared by more
    * than that many containers (they carry near-zero signal and
    * quadratic cost; same trick as stop-word removal in similarity
    * joins).
    */
  def relatedByOverlap(membership: DataFrame, containerCol: String,
                       itemCol: String,
                       maxItemFanout: Int = 1000): DataFrame = {
    // m feeds the fanout filter AND the semi-join left side; persist
    // so the distinct shuffle runs once (pushed-filter asymmetry
    // between branches defeats ReuseExchange)
    val m = membership.select(col(containerCol).as("container"),
      col(itemCol).as("item")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // materialize before the branches fan out — parallel stages
    // otherwise race-recompute the cache
    m.count()
    // fanout counts FIRST, as a plain count aggregate: hub items are
    // dropped before any member list materializes, so aggregation
    // buffers stay bounded even when one item sits in millions of
    // containers
    val fanout = m.groupBy("item")
      .agg(count(lit(1)).as("item_fanout"))
      .filter(col("item_fanout") <= maxItemFanout)
    val pruned = m.join(fanout, Seq("item"), "left_semi")
    // grouped member list per item (bounded by maxItemFanout); the
    // groupBy reuses the semi-join's hash partitioning on item — no
    // extra shuffle. sort_array makes within-list order (and so pair
    // orientation) deterministic.
    val byItem = pruned.groupBy("item")
      .agg(sort_array(collect_list(col("container"))).as("cs"))
    // ordered pairs by in-row combination explode instead of an
    // item-keyed self-join: the pair stream never shuffles — it flows
    // straight into the final aggregate's map-side partial combine
    // (the self-join form shuffled BOTH join sides plus the joined
    // pair rows; this shape's only shuffles are the two aggregates)
    val pairs = byItem
      .select(posexplode(col("cs")).as(Seq("i", "c1")), col("cs"))
      .select(col("c1"),
        explode(slice(col("cs"), col("i") + 2,
          size(col("cs")) - col("i") - 1)).as("c2"))
    pairs.groupBy("c1", "c2")
      .agg(count(lit(1)).as("shared"))
  }

  /** Tick rows for OHLC bars: `(ts, event_type, ms, event_id, cents,
    * k)` — value in exact cents (e12's round idiom) and `k` the
    * packed total-order tick key (within-hour ms offset · 2^33 +
    * event_id; the offset keeps the pack inside BIGINT for any epoch,
    * the unique id makes open/close deterministic). Shared by e17,
    * e18 and [[graft.streaming.Streams.streamingMinuteBars]]. */
  def ticks(events: DataFrame): DataFrame =
    events
      .select(col("ts"), col("event_type"),
        unix_millis(col("ts")).as("ms"), col("event_id"),
        expr("CAST(round(value * 100, 0) AS BIGINT)").as("cents"))
      .withColumn("k",
        (col("ms") % 3600000L) * lit(8589934592L) + col("event_id"))

  /** The associative bar fold over [[ticks]]: n_events, volume_cents,
    * low, high, the bar's min/max tick keys, and open/close as
    * `min_by`/`max_by` over the tick key. Carrying min_k/max_k is
    * what lets coarser bars re-aggregate finer ones exactly. */
  def barAggs: Seq[Column] = Seq(count(lit(1)).as("n_events"),
    sum("cents").cast("long").as("volume_cents"),
    min("cents").as("low"), max("cents").as("high"),
    min("k").as("min_k"), max("k").as("max_k"),
    min_by(col("cents"), col("k")).as("open"),
    max_by(col("cents"), col("k")).as("close"))
}
